package graft

package object streaming {

  /** Epoch microseconds of a timestamp: the event-time key every
    * stateful operator here sorts and compares on.
    */
  def tsUs(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
}
