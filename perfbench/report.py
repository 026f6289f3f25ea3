#!/usr/bin/env python3
"""Read the benchmark's result records (``perfbench/out/*.json``).

    report.py layers DIR            per-layer table of the top-20 ops of every
                                    traced record in DIR, plus tracing overhead
    report.py diff BASE NEW         per workload x end-to-end metric: median and
                                    quartiles of each side, and the share of
                                    alternating pairs NEW won
    report.py ops DIR OP...         per named op: its median latency in each
                                    untraced run, and their spread across runs
    report.py expect RECORD...      merge the checked digests of registry
                                    records into expected.json
    report.py crosscheck DATA DUMP RECORD
                                    replay in DuckDB, over the tables in DATA,
                                    the oracle SQL (from RECORD) of every result
                                    dumped in DUMP (see Main --dump)

A record is named ``<workload>-seed<N>-trace<0|1>.json``.
"""
import glob
import json
import math
import os
import re
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
NAME = re.compile(r"(?P<w>[a-z_]+)-seed(?P<seed>\d+)-trace(?P<t>[01])\.json$")
LOWER_IS_BETTER = {"setup_s", "wall_s", "cpu_s", "op_p50_ms", "op_p90_ms", "ops_n",
                   "peak_rss_mb"}


def records(d, trace):
    out = {}
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        m = NAME.search(os.path.basename(p))
        if m and int(m["t"]) == trace:
            out.setdefault(m["w"], []).append((int(m["seed"]), json.load(open(p))))
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def layers(d):
    plain = {w: {s: r for s, r in rs} for w, rs in records(d, 0).items()}
    for w, rs in sorted(records(d, 1).items()):
        for seed, r in rs:
            print(f"\n## {w} seed {seed}: {r['passes_n']} traced passes")
            byop = {}
            for row in r["op_layers"]:
                byop.setdefault(row["op"], []).append(row)
            cols = ["ms", "build_ms", "build_jobs", "plan_ms", "job_ms", "jobs", "stages",
                    "tasks", "task_cpu_ms", "shuffle_mb"]
            agg = sorted(((op, len(rows), [statistics.median(x[c] for x in rows) for c in cols])
                          for op, rows in byop.items()), key=lambda t: -t[2][0])[:20]
            print("| op | n | " + " | ".join(cols) + " |")
            print("|---|---:|" + "---:|" * len(cols))
            for op, n, vals in agg:
                print(f"| {op} | {n} | " + " | ".join(f"{v:.1f}" for v in vals) + " |")
            print("\nlayer metrics (per pass):")
            for k, v in sorted(r["layers"].items()):
                print(f"  {k} = {v:.4g}")
            base = plain.get(w, {}).get(seed)
            if base:
                over = r["layers"]["trace.wall_s"] - base["e2e"]["wall_s"]
                print(f"  tracing overhead: traced wall_s - untraced wall_s = {over:+.3f} s "
                      f"({over / base['e2e']['wall_s']:+.1%} of {base['e2e']['wall_s']:.3f} s)")


def diff(base_dir, new_dir):
    base, new = records(base_dir, 0), records(new_dir, 0)
    for w in sorted(set(base) & set(new)):
        a, b = dict(base[w]), dict(new[w])
        seeds = sorted(set(a) & set(b))
        print(f"\n## {w}: {len(a)} base runs, {len(b)} new runs, {len(seeds)} pairs")
        print("| metric | base q1 / median / q3 | new q1 / median / q3 | change | new won |")
        print("|---|---|---|---:|---:|")
        for m in sorted(next(iter(a.values()))["e2e"]):
            xa = [r["e2e"][m] for r in a.values()]
            xb = [r["e2e"][m] for r in b.values()]
            qa, qb = quartiles(xa), quartiles(xb)
            lower = m in LOWER_IS_BETTER
            won = sum(1 for s in seeds if (b[s]["e2e"][m] < a[s]["e2e"][m]) == lower
                      and b[s]["e2e"][m] != a[s]["e2e"][m])
            print(f"| {m} | {qa[0]:.4g} / {qa[1]:.4g} / {qa[2]:.4g} "
                  f"| {qb[0]:.4g} / {qb[1]:.4g} / {qb[2]:.4g} "
                  f"| {(qb[1] - qa[1]) / qa[1]:+.1%} | {won}/{len(seeds)} |")


def ops(d, names):
    print("| op (ms) | runs | samples | run medians: min | q1 | median | q3 | max "
          "| IQR/median | slowest sample |")
    print("|---|---:|---:|---:|---:|---:|---:|---:|---:|---:|")
    for name in names:
        per_run, samples = [], []
        for rs in records(d, 0).values():
            for _, r in rs:
                ms = [o["ms"] for p in r["passes"] for o in p["ops"]
                      if o["name"] == name and o["ms"] is not None]
                if ms:
                    per_run.append(statistics.median(ms))
                    samples += ms
        if not per_run:
            print(f"| {name} | 0 | 0 | | | | | | | |")
            continue
        q1, q2, q3 = quartiles(per_run)
        print(f"| {name} | {len(per_run)} | {len(samples)} | {min(per_run):.0f} | {q1:.0f} "
              f"| {q2:.0f} | {q3:.0f} | {max(per_run):.0f} | {(q3 - q1) / q2:.1%} "
              f"| {max(samples):.0f} |")


def expect(paths):
    path = os.path.join(HERE, "expected.json")
    exp = json.load(open(path))
    for p in paths:
        exp.update(json.load(open(p))["info"]["digests"])
    with open(path, "w") as f:
        json.dump(exp, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(exp)} expectations in {path}")


def canon(rows, cols):
    """Rows as sorted tuples of normalised strings, columns ordered by name.
    Floats keep 10 significant digits, as in the harness's result digest, so
    a last-ulp difference from another summation order is not a mismatch."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.9e}"
        return str(v)
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def crosscheck(data, dump, record):
    import duckdb
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    oracle = json.load(open(record))["info"]["oracle_sql"]
    n_pass, fails, rows_only = 0, [], []
    for name in sorted(os.listdir(dump)):
        if not os.path.isdir(os.path.join(dump, name)):
            continue
        got = con.execute(f"SELECT * FROM '{dump}/{name}/*.parquet'")
        got_cols = [d[0] for d in got.description]
        got_rows = got.fetchall()
        if name not in oracle:
            rows_only.append(f"{name}({len(got_rows)})")
            continue
        want = con.execute(oracle[name])
        want_cols = [d[0] for d in want.description]
        if canon(got_rows, got_cols) == canon(want.fetchall(), want_cols):
            n_pass += 1
        else:
            fails.append(name)
    print(f"{n_pass} match the DuckDB oracle; {len(fails)} differ: {fails}; "
          f"{len(rows_only)} have no oracle: {rows_only}")
    return 1 if fails else 0


def main(argv):
    if len(argv) >= 2 and argv[0] == "layers":
        layers(argv[1])
    elif len(argv) == 3 and argv[0] == "diff":
        diff(argv[1], argv[2])
    elif len(argv) >= 3 and argv[0] == "ops":
        ops(argv[1], argv[2:])
    elif len(argv) >= 2 and argv[0] == "expect":
        expect(argv[1:])
    elif len(argv) == 4 and argv[0] == "crosscheck":
        return crosscheck(argv[1], argv[2], argv[3])
    else:
        print(__doc__)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
