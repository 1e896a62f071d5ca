"""Summarise a traced run's span file.

    python3 perfbench/spans.py perfbench/out/spans-<workload>-s<seed>.jsonl

Prints, per operation, the split of its wall time into build, plan
(analysis + optimization + planning), codegen compile, collect and the
executor CPU of its tasks; then each layer's self time: a span's duration
minus the part of it that its child spans cover.
"""
import collections
import json
import sys


def load(path):
    with open(path) as f:
        return [json.loads(l) for l in f]


def self_times(spans):
    """{span name: summed self time, s}."""
    kids = collections.defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = collections.Counter()
    for s in spans:
        covered, end = 0.0, s["start_ms"]
        for k in sorted(kids[s["id"]], key=lambda k: k["start_ms"]):
            a, b = max(k["start_ms"], end), min(k["end_ms"], s["end_ms"])
            if b > a:
                covered += b - a
                end = b
        out[s["name"]] += (s["end_ms"] - s["start_ms"] - covered) / 1000
    return out


def per_op(spans):
    """Rows (op, wall, build, plan, codegen, collect, executor cpu), s."""
    kids = collections.defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)

    def under(s):
        for k in kids[s["id"]]:
            yield k
            yield from under(k)

    rows = collections.OrderedDict()
    for op in (s for s in spans if s["name"] == "op"):
        d = collections.Counter()
        for k in under(op):
            n = k["name"]
            dur = (k["end_ms"] - k["start_ms"]) / 1000
            if n in ("queries.build", "exec.collect"):
                d[n] += dur
            elif n.startswith("plans."):
                d["plan"] += dur
        r = rows.setdefault(op["op"], collections.Counter())
        r["n"] += 1
        r["wall"] += (op["end_ms"] - op["start_ms"]) / 1000
        r["build"] += d["queries.build"]
        r["plan"] += d["plan"]
        r["codegen"] += op["attrs"].get("codegen_compile_s", 0.0)
        r["collect"] += d["exec.collect"]
        r["cpu"] += op["attrs"].get("task.executor_cpu_s", 0.0)
    return rows


def main(path):
    spans = load(path)
    rows = per_op(spans)
    cols = ["wall", "build", "plan", "codegen", "collect", "cpu"]
    print(f"{'operation':30s} {'n':>2s} " + " ".join(f"{c:>8s}" for c in cols))
    total = collections.Counter()
    for op, r in sorted(rows.items(), key=lambda kv: -kv[1]["wall"]):
        total.update({c: r[c] for c in cols})
        print(f"{op:30s} {r['n']:2d} " + " ".join(f"{r[c]:8.2f}" for c in cols))
    print(f"{'total':30s}    " + " ".join(f"{total[c]:8.2f}" for c in cols))
    print("\nself time by span name, s")
    for name, t in sorted(self_times(spans).items(), key=lambda kv: -kv[1]):
        print(f"  {name:28s} {t:8.2f}")


if __name__ == "__main__":
    main(sys.argv[1])
