#!/usr/bin/env python3
"""Compare two sets of benchmark results.

    python3 benchmark/compare.py BASE NEW              # base vs change
    python3 benchmark/compare.py --overhead UNTRACED TRACED

BASE and NEW are files of result records: the JSON lines run.py appends to
benchmark/.work/results/<workload>.jsonl, or saved run.py output (lines
starting with `RECORD `). Records are grouped by workload and trace mode.

For each workload x metric the report prints both sides' median and
quartiles (Python's statistics.quantiles, n=4), the ratio NEW/BASE, and a
verdict. End-to-end metrics are judged against their bound in
BENCHMARK.json:
  regressed   NEW's median is worse than BASE's by more than the bound
  unresolved  either side's quartile spread (IQR / median) exceeds the bound
  improved    better by more than BASE's own spread
  same        otherwise
Workload-specific and per-layer metrics have no bound and print `info`.

Host drift: a per-layer wall time (`<layer>_s`) that moved by more than
10 % while every work counter of the same layer (its jobs, tasks, files,
bytes, and CPU seconds) moved by less than 5 % is flagged `HOST DRIFT?` —
the wall moved but the work did not. Each side's host context (nproc, heap,
steal share, loadavg) is printed with the table so a noisy pair can be
explained from the record.

--overhead prints, per workload, the traced minus the untraced median of
every end-to-end metric: the cost of the tracing.
"""
import json
import os
import statistics
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
DRIFT_WALL = 0.10
DRIFT_WORK = 0.05
WORK_SUFFIXES = ("_jobs", "_tasks", "_files_added", "_files_removed",
                 "_bytes_written", "_bytes_rewritten", "_statements")


def load(path):
    recs = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line.startswith("RECORD "):
                line = line[len("RECORD "):]
            if not line.startswith("{"):
                continue
            rec = json.loads(line)
            if "workload" in rec and "error" not in rec:
                recs.append(rec)
    return recs


def bounds():
    path = os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")
    spec = json.load(open(path))
    return {m["name"]: m for m in spec["end_to_end"]}, \
        {m["name"]: m for m in spec["per_layer"]}


def quart(vals):
    if len(vals) == 1:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, statistics.median(vals), q3


def spread(vals):
    q1, med, q3 = quart(vals)
    return (q3 - q1) / med if med else 0.0


def series(recs, section):
    out = {}
    for r in recs:
        for k, v in (r.get(section) or {}).items():
            if isinstance(v, (int, float)) and v == v:
                out.setdefault(k, []).append(float(v))
    return out


def host_line(recs):
    def med(key):
        vals = [r["host"][key] for r in recs if isinstance(r["host"].get(key), (int, float))]
        return statistics.median(vals) if vals else float("nan")
    load0 = [float(r["host"]["loadavg_start"].split()[0]) for r in recs]
    load1 = [float(r["host"]["loadavg_end"].split()[0]) for r in recs]
    return (f"runs={len(recs)} nproc={sorted({r['host']['nproc'] for r in recs})} "
            f"heap_mb={med('heap_max_mb'):.0f} steal={med('steal_share'):.4f} "
            f"load1 start={statistics.median(load0):.2f} end={statistics.median(load1):.2f} "
            f"sources={sorted({r['host'].get('source_digest', '') for r in recs})}")


def worse_ratio(ratio, better):
    return ratio if better == "lower" else (1 / ratio if ratio else float("inf"))


def verdict(b, n, spec):
    if spec is None:
        return "info"
    bound = spec["bound"]
    if spread(b) > bound or spread(n) > bound:
        return "unresolved"
    bm, nm = statistics.median(b), statistics.median(n)
    if not bm:
        return "info"
    w = worse_ratio(nm / bm, spec["better"])
    if w > 1 + bound:
        return "REGRESSED"
    if w < 1 - max(spread(b), 0.0) and abs(nm - bm) > (quart(b)[2] - quart(b)[0]):
        return "improved"
    return "same"


def drift_flags(b, n, nproc):
    """Per-layer walls that moved while their layer's work did not."""
    flags = {}
    for name in b:
        if not name.endswith("_s") or name not in n:
            continue
        layer = name[:-2]
        bw, nw = statistics.median(b[name]), statistics.median(n[name])
        if not bw or abs(nw / bw - 1) <= DRIFT_WALL:
            continue
        work = {k: (statistics.median(b[k]), statistics.median(n[k]))
                for k in b if k in n and k.startswith(layer) and k.endswith(WORK_SUFFIXES)}
        util = layer + "_cpu_util"
        if util in b and util in n:
            work["cpu_s"] = (statistics.median(b[util]) * bw * nproc,
                             statistics.median(n[util]) * nw * nproc)
        if work and all((x == y) or (x and abs(y / x - 1) < DRIFT_WORK)
                        for x, y in work.values()):
            flags[name] = "HOST DRIFT?"
    return flags


def fmt(v):
    return f"{v:.4g}"


def compare(base_path, new_path):
    e2e_spec, layer_spec = bounds()
    base, new = load(base_path), load(new_path)
    keys = sorted({(r["workload"], r["trace"]) for r in base} &
                  {(r["workload"], r["trace"]) for r in new})
    if not keys:
        sys.exit("no workload/trace pair present in both files")
    regressed = False
    for workload, traced in keys:
        b = [r for r in base if (r["workload"], r["trace"]) == (workload, traced)]
        n = [r for r in new if (r["workload"], r["trace"]) == (workload, traced)]
        print(f"\n== {workload} ({'traced' if traced else 'untraced'})")
        print(f"   base: {host_line(b)}")
        print(f"   new:  {host_line(n)}")
        print(f"   {'metric':44} {'base q1/med/q3':>28} {'new q1/med/q3':>28} {'ratio':>7}  verdict")
        sections = [("end_to_end", e2e_spec), ("workload_metrics", {})]
        if traced:
            sections.append(("per_layer", layer_spec))
        for section, spec in sections:
            bs, ns = series(b, section), series(n, section)
            flags = drift_flags(bs, ns, b[0]["host"]["nproc"]) if section == "per_layer" else {}
            for name in sorted(set(bs) & set(ns)):
                bq, nq = quart(bs[name]), quart(ns[name])
                ratio = nq[1] / bq[1] if bq[1] else float("nan")
                v = verdict(bs[name], ns[name],
                            spec.get(name) if section == "end_to_end" else None)
                regressed |= v == "REGRESSED"
                print(f"   {name:44} {'/'.join(map(fmt, bq)):>28} "
                      f"{'/'.join(map(fmt, nq)):>28} {ratio:7.3f}  {v} {flags.get(name, '')}")
    return 1 if regressed else 0


def overhead(untraced_path, traced_path):
    un, tr = load(untraced_path), load(traced_path)
    for workload in sorted({r["workload"] for r in un} & {r["workload"] for r in tr}):
        u = series([r for r in un if r["workload"] == workload and not r["trace"]], "end_to_end")
        t = series([r for r in tr if r["workload"] == workload and r["trace"]], "end_to_end")
        print(f"\n== {workload}: traced - untraced (medians)")
        for name in sorted(set(u) & set(t)):
            um, tm = statistics.median(u[name]), statistics.median(t[name])
            print(f"   {name:20} untraced={fmt(um):>10} traced={fmt(tm):>10} "
                  f"overhead={fmt(tm - um):>10} ({(tm / um - 1) * 100 if um else 0:+.1f}%)")
    return 0


def main(argv):
    if len(argv) == 3 and argv[0] == "--overhead":
        return overhead(argv[1], argv[2])
    if len(argv) == 2:
        return compare(argv[0], argv[1])
    sys.exit(__doc__)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
