#!/usr/bin/env python3
"""Per-operation Spark job summary of a graftbench trace.

    python3 scripts/trace_jobs.py .graftbench_traces/curation_nightly-seed1.jsonl

A trace (written by `graftbench/run.py --trace 1`) holds span lines and
job lines. For each operation span (`op`, `op.*`) this prints one JSON
line: the jobs that started inside it, their stages, task ms, the union
of their wall intervals (`job_ms`), and the same jobs grouped by the
first `graft.ops`
frame of their call site (`by_frame`: jobs, the union ms, and `span_ms`
from the group's first job start to its last job end, which includes
the driver time between its jobs).

A pin's own frames (`graft.ops.Materialize...`) are skipped when
naming the group, so a pin is named by the operator line that pinned;
`[pin]` marks such a group. A job whose site has no `graft.ops` frame
outside Materialize (the trace keeps four frames) is named by its last
`graft.ops` frame. A job with none, such as every job of a streaming
micro-batch (its call site is the query's `start`), is named by the
innermost span open when it started (`materialize.parse`, `conveyor`,
`apply.sink`, ...), and a job outside every span by `(other)`.
"""
import json
import os
import sys


def union_ms(intervals):
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def innermost_span(job, spans, depth):
    """The deepest span open when the job started, the later-opened one
    on a tie (graftbench's own attribution); None outside every span."""
    open_ = [s for s in spans if s["start_ms"] <= job["start_ms"] < s["end_ms"]]
    if not open_:
        return None
    return max(open_, key=lambda s: (depth[s["id"]], s["start_ms"]))["span"]


def frame_of(job, span):
    frames = [f.strip() for f in (job.get("site") or "").split("|")]
    ops = [f for f in frames if f.startswith("graft.ops.")]
    outside = [f for f in ops if not f.startswith("graft.ops.Materialize")]
    name = (outside or ops[::-1] or [span or "(other)"])[0]
    return name + (" [pin]" if job.get("pin") else "")


def depths(spans):
    parent = {s["id"]: s["parent"] for s in spans}
    out = {}
    for s in spans:
        d, p = 0, s["parent"]
        while p in parent:
            d, p = d + 1, parent[p]
        out[s["id"]] = d
    return out


def summarize(lines):
    spans = [r for r in lines if "span" in r]
    jobs = [r for r in lines if "job" in r]
    depth = depths(spans)
    for sp in sorted(spans, key=lambda r: r["start_ms"]):
        if sp["span"] != "op" and not sp["span"].startswith("op."):
            continue
        inside = [j for j in jobs if sp["start_ms"] <= j["start_ms"] < sp["end_ms"]]
        groups = {}
        for j in inside:
            groups.setdefault(frame_of(j, innermost_span(j, spans, depth)), []).append(j)
        by_frame = {
            k: {"jobs": len(v),
                "ms": round(union_ms([(j["start_ms"], j["end_ms"]) for j in v]), 1),
                "span_ms": round(max(j["end_ms"] for j in v) - min(j["start_ms"] for j in v), 1)}
            for k, v in sorted(groups.items(), key=lambda kv: -len(kv[1]))
        }
        yield {
            "span": sp["span"],
            "op": sp["op"],
            "wall_ms": round(sp["end_ms"] - sp["start_ms"], 1),
            "jobs": len(inside),
            "stages": sum(j["stages"] for j in inside),
            "task_ms": round(sum(j["task_ms"] for j in inside), 1),
            "job_ms": round(union_ms([(j["start_ms"], j["end_ms"]) for j in inside]), 1),
            "by_frame": by_frame,
        }


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    with open(argv[1]) as f:
        lines = [json.loads(l) for l in f if l.strip()]
    try:
        for row in summarize(lines):
            print(json.dumps(row))
        sys.stdout.flush()
    except BrokenPipeError:
        # the reader closed stdout (`| head`): stop quietly, with stdout
        # on devnull so the exit flush does not raise again
        os.dup2(os.open(os.devnull, os.O_WRONLY), sys.stdout.fileno())


if __name__ == "__main__":
    main(sys.argv)
