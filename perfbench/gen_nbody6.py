"""Seeded synthetic NBODY6 survey tree plus a manifest of expected counts.

Each sim directory gets the six files the graft readers parse: OUT34,
OUT9, fort.82, fort.83, fort.19 and densCentre.txt, in the token layout
of graft.sources.NBody6. Every snapshot of a sim holds:

  * single stars (OUT34 + fort.83);
  * regularized pairs: one centre-of-mass row in OUT34, a row in OUT9,
    component attributes in fort.82;
  * wide pairs of two single stars in fort.19;
  * hierarchical triples in fort.19: a regularized pair's centre of
    mass plus a single star (hiarch = 1);
  * stars beyond 2 r_tidal.

Radii keep clear of the 1 and 2 r_tidal cuts and of the 3 r_tidal ring
edge, and the members of a system sit within 1e-4 pc of each other, so
every membership flag and ring is decided by a wide margin. Semi-major axes fall in three bands chosen
against the observer coordinates: "tight" pairs are unresolved (semi <=
0.6" x distance) from every coordinate, "wide" pairs are resolved from
every coordinate, and "mid" pairs flip between them. The manifest's
counts therefore do not depend on floating-point detail.

Usage: python3 gen_nbody6.py <root> <seed> <sims> <snaps> <stars> <binary_frac>
"""
import json
import math
import os
import sys

import numpy as np

G_SI = 6.6743e-11
M_SUN_KG = 1.988409870698051e30
AU_M = 1.495978707e11
DAY_S = 86400.0
SEP_FACTOR = 0.6

# Observer coordinates [pc] used by the staged analysis; the semi
# bands below are placed against their distances (1000 pc and 5000 pc).
COORDS = [(1000.0, 0.0, 0.0), (0.0, 4000.0, 3000.0)]
SEMI_BANDS = {"tight": (20.0, 200.0), "mid": (1000.0, 1800.0),
              "wide": (8000.0, 40000.0)}
TIME_STEP = 1.25


def log_period_days(semi_au, m_total):
    """Inverse of Kepler's third law as graft evaluates it."""
    a_m = semi_au * AU_M
    p_s = 2 * math.pi * math.sqrt(a_m ** 3 / (G_SI * m_total * M_SUN_KG))
    return math.log10(p_s / DAY_S)


def kepler_semi_au(m1, m2, log_p):
    p_s = 10.0 ** log_p * DAY_S
    a3 = (m1 + m2) * M_SUN_KG * p_s * p_s * (G_SI / (4 * math.pi * math.pi))
    return a3 ** (1.0 / 3) / AU_M


def _radii(rng, n):
    """Radii in units of r_tidal: ~70% inside 1, ~22% in (1, 2), ~8%
    in (2, 3), none within 0.05 of an integer (a cut or a ring edge)."""
    u = rng.random_sample(n)
    return np.where(u < 0.70, 0.05 + 0.88 * rng.random_sample(n),
                    np.where(u < 0.92, 1.05 + 0.88 * rng.random_sample(n),
                             2.05 + 0.88 * rng.random_sample(n)))


def _directions(rng, n):
    v = rng.normal(size=(n, 3))
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _fmt(v):
    return f"{v:.6f}"


def generate(root, seed, sims, snaps, stars, binary_frac):
    """Write the tree under `root` and return the manifest dict."""
    rng = np.random.RandomState(seed)
    manifest = {"coords": COORDS, "snapshots": [], "files": 0, "bytes": 0}
    for s in range(sims):
        sim_id = f"sim{s:03d}"
        d = os.path.join(root, sim_id)
        os.makedirs(d, exist_ok=True)
        # system layout, fixed across a sim's snapshots: systems are
        # built from disjoint star names 1..stars
        n_in_bin = int(stars * binary_frac) // 5 * 5
        names = rng.permutation(np.arange(1, stars + 1))
        groups = names[:n_in_bin].reshape(-1, 5)
        # per 5-star group: one regularized pair (a, b) with a triple
        # partner c, and one wide pair (d, e)
        reg = [(int(g[0]), int(g[1])) for g in groups]
        outer = [int(g[2]) for g in groups]
        wide = [(int(g[3]), int(g[4])) for g in groups]
        reg_set = {n for p in reg for n in p}
        mass = np.round(0.1 + 9.9 * rng.random_sample(stars + 1) ** 3, 4)
        log_l = np.round(4.0 * np.log10(mass), 4)
        log_r = np.round(0.8 * np.log10(mass), 4)
        tempe = np.round(3.76 + 0.25 * (log_l - 2 * log_r) / 4, 4)
        bands = list(SEMI_BANDS)
        reg_band = [bands[i % 3] for i in range(len(reg))]
        wide_band = [bands[(i + 1) % 3] for i in range(len(wide))]
        outer_band = [bands[(i + 2) % 3] for i in range(len(reg))]

        def semi_in(band):
            lo, hi = SEMI_BANDS[band]
            return lo * (hi / lo) ** rng.random_sample()

        reg_semi = [semi_in(b) for b in reg_band]
        wide_semi = [semi_in(b) for b in wide_band]
        outer_semi = [semi_in(b) for b in outer_band]
        ecc = np.round(rng.random_sample(3 * len(reg) + 1) * 0.9, 4)

        out34, out9, f82, f83, f19, dens = [], [], [], [], [], []
        for k in range(snaps):
            t = round(k * TIME_STEP, 2)
            r_tidal = round(12.0 + 4.0 * rng.random_sample(), 4)
            dc = np.round(rng.normal(scale=0.3, size=3), 4)
            # positions of every star name (index = name); members of a
            # system are placed next to their first member
            rad = _radii(rng, stars + 1) * r_tidal
            pos = dc + _directions(rng, stars + 1) * rad[:, None]
            for a, b in reg:
                pos[b] = pos[a]
            for (a, _), c in zip(reg, outer):
                pos[c] = pos[a] + 1e-4
            for a, b in wide:
                pos[b] = pos[a] + 1e-4
            pos = np.round(pos, 6)
            vel = np.round(rng.normal(scale=2.0, size=(stars + 1, 3)), 6)
            for a, b in reg:
                vel[b] = vel[a]

            # --- OUT34: singles + one centre-of-mass row per pair ----
            hdr = ["0.0"] * 28
            hdr[5] = str(stars)
            hdr[7] = f"{t:.2f}"
            hdr[8], hdr[9], hdr[10], hdr[12] = "1.0", "1.0", f"{r_tidal:.4f}", "5000.0"
            hdr[13:16] = [f"{v:.4f}" for v in dc]
            hdr[16:19] = [f"{v:.4f}" for v in dc]
            hdr[22:25] = ["8000.0", "0.0", "20.0"]
            hdr[25:28] = ["0.0", "220.0", "0.0"]
            out34.append("# " + " ".join(hdr))
            cm_name = {}
            for i, (a, b) in enumerate(reg):
                cm_name[(a, b)] = stars + 1 + i
            for n in range(1, stars + 1):
                if n in reg_set:
                    continue
                x, y, z = pos[n]
                vx, vy, vz = vel[n]
                out34.append(f"{_fmt(x)} {_fmt(y)} {_fmt(z)} {_fmt(vx)} "
                             f"{_fmt(vy)} {_fmt(vz)} {mass[n]:.4f} {n} 1")
            for (a, b), cm in cm_name.items():
                x, y, z = pos[a]
                vx, vy, vz = vel[a]
                out34.append(f"{_fmt(x)} {_fmt(y)} {_fmt(z)} {_fmt(vx)} "
                             f"{_fmt(vy)} {_fmt(vz)} {mass[a] + mass[b]:.4f} {cm} 0")

            # --- OUT9 + fort.82: regularized pairs -------------------
            out9 += [f"# h {t:.2f} {len(reg)} f", "# f2", "# f3"]
            f82.append(f"## BEGIN {len(reg)} {t:.2f}")
            reg_lp = []
            for i, (a, b) in enumerate(reg):
                lp = log_period_days(reg_semi[i], mass[a] + mass[b])
                reg_lp.append(lp)
                out9.append(f"x x x {ecc[i]:.4f} {reg_semi[i]:.4f} {lp:.8f} "
                            f"{mass[a]:.4f} {mass[b]:.4f} {a} {b} 0 0 0 {cm_name[(a, b)]}")
                x, y, z = pos[a]
                f82.append(f"{a} {b} 0 0 0 {_fmt(x)} {_fmt(y)} {_fmt(z)} 0 0 0 "
                           f"{mass[a]:.4f} {mass[b]:.4f} {log_l[a]:.4f} {log_l[b]:.4f} "
                           f"{log_r[a]:.4f} {log_r[b]:.4f} {tempe[a]:.4f} {tempe[b]:.4f}")
            f82.append("## END")

            # --- fort.83: single-star attributes ---------------------
            f83.append(f"## BEGIN {stars - 2 * len(reg)} {t:.2f}")
            for n in range(1, stars + 1):
                if n in reg_set:
                    continue
                x, y, z = pos[n]
                f83.append(f"{n} 0 {_fmt(x)} {_fmt(y)} {_fmt(z)} {mass[n]:.4f} "
                           f"{log_l[n]:.4f} {log_r[n]:.4f} {tempe[n]:.4f}")
            f83.append("## END")

            # --- fort.19: wide pairs + hierarchical triples ----------
            f19.append(f"# {t:.2f} {len(wide) + len(reg)} x")
            wide_lp = []
            for i, (a, b) in enumerate(wide):
                lp = log_period_days(wide_semi[i], mass[a] + mass[b])
                wide_lp.append(lp)
                f19.append(f"x x x {ecc[len(reg) + i]:.4f} {wide_semi[i]:.4f} {lp:.8f} "
                           f"{mass[a]:.4f} {mass[b]:.4f} {a} {b} 0 0 0")
            outer_lp = []
            for i, ((a, b), c) in enumerate(zip(reg, outer)):
                m_in = round(mass[a] + mass[b], 4)
                lp = log_period_days(outer_semi[i], m_in + mass[c])
                outer_lp.append(lp)
                f19.append(f"x x x {ecc[2 * len(reg) + i]:.4f} {outer_semi[i]:.4f} "
                           f"{lp:.8f} {m_in:.4f} {mass[c]:.4f} {cm_name[(a, b)]} {c} 0 0 1")

            dens.append(f"{t:.2f} {r_tidal:.4f} {dc[0]:.4f} {dc[1]:.4f} {dc[2]:.4f}")

            # --- expected counts -------------------------------------
            dist = np.linalg.norm(pos - dc, axis=1) / r_tidal
            dist[0] = np.inf
            in1 = dist <= 1
            in2 = dist <= 2
            # (member names, semi-major axis as graft derives it from the
            # printed masses and period)
            systems = []
            for i, (a, b) in enumerate(reg):
                systems.append(([a, b], kepler_semi_au(
                    float(f"{mass[a]:.4f}"), float(f"{mass[b]:.4f}"),
                    float(f"{reg_lp[i]:.8f}"))))
            for i, (a, b) in enumerate(wide):
                systems.append(([a, b], kepler_semi_au(
                    float(f"{mass[a]:.4f}"), float(f"{mass[b]:.4f}"),
                    float(f"{wide_lp[i]:.8f}"))))
            for i, ((a, b), c) in enumerate(zip(reg, outer)):
                m_in = round(mass[a] + mass[b], 4)
                systems.append(([a, b, c], kepler_semi_au(
                    float(f"{m_in:.4f}"), float(f"{mass[c]:.4f}"),
                    float(f"{outer_lp[i]:.8f}"))))
            sys_in2 = [(m, semi) for m, semi in systems if all(in2[n] for n in m)]
            unresolved = []
            for c in COORDS:
                obs = np.linalg.norm(pos + np.array(c), axis=1)
                unresolved.append(sum(
                    1 for m, semi in sys_in2
                    if semi <= float(np.mean([obs[n] for n in m])) * SEP_FACTOR))
            binary_members = reg_set | set(outer) | {n for p in wide for n in p}
            manifest["snapshots"].append({
                "sim_id": sim_id, "time": t,
                "n_star": stars,
                "n_binary_star": len(binary_members),
                "n_binary_system": len(systems),
                "n_atomic_binary_system": len(reg) + len(wide),
                "n_star_within_r_tidal": int(in1[1:].sum()),
                "n_star_within_2x_r_tidal": int(in2[1:].sum()),
                "n_binary_system_within_2x_r_tidal": len(sys_in2),
                "n_unresolved_binary_system": unresolved,
                "total_mass": float(sum(float(f"{mass[n]:.4f}")
                                        for n in range(1, stars + 1))),
            })

        for fname, lines in (("OUT34", out34), ("OUT9", out9), ("fort.82", f82),
                             ("fort.83", f83), ("fort.19", f19),
                             ("densCentre.txt", dens)):
            p = os.path.join(d, fname)
            with open(p, "w") as fh:
                fh.write("\n".join(lines) + "\n")
            manifest["files"] += 1
            manifest["bytes"] += os.path.getsize(p)
    return manifest


if __name__ == "__main__":
    root, seed, sims, snaps, stars, frac = sys.argv[1:7]
    m = generate(root, int(seed), int(sims), int(snaps), int(stars), float(frac))
    json.dump(m, sys.stdout)
