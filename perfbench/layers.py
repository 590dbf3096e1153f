"""Per-layer metrics from a traced run.

Layer names are the package's module names. A call into a module is a
span of that layer; work a layer does inside another layer's call (the
E-step and M-step inside ``fit_offline``) is attributed by physical
operator: stages that run the Python grouped-map node are the E-step
kernel, the fit's other stages are M-step / normalize work. All figures
are of the traced pass.
"""

from __future__ import annotations


from perfbench.trace import BAND_JOIN, SparkTrace, Tracer

PY_GROUPED = "FlatMapGroupsIn"  # the Python grouped-map operators
PY_RUN = "time to run Python workers"
PY_BOOT = ("time to start Python workers", "time to initialize Python workers")
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def _union_len(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class _View:
    """Stage and node records grouped by the spans of the traced
    pass."""

    def __init__(self, tracer: Tracer, st: SparkTrace):
        self.spans = {s.sid: s for s in tracer.spans if s.traced}
        self.st = st

    def spans_named(self, prefix):
        return [s for s in self.spans.values() if s.name.startswith(prefix)]

    def stages(self, sids):
        return [r for r in self.st.stages if r.span in sids]

    def nodes(self, sids, python_grouped=False):
        out = [n for n in self.st.nodes if n.span in sids and n.name != BAND_JOIN]
        if python_grouped:
            out = [n for n in out if n.name.startswith(PY_GROUPED)]
        return out

    def band_join_rows(self, sids) -> float:
        """Output rows of the LSH bucket joins: each accumulator counted
        once, at its largest value (a cached join shows up again in the
        executions that read the cache)."""
        rows: dict = {}
        for n in self.st.nodes:
            if n.span in sids and n.name == BAND_JOIN:
                acc = n.accs.get("number of output rows")
                if acc is not None:
                    rows[acc] = max(rows.get(acc, 0.0), n.metrics["number of output rows"])
        return float(sum(rows.values()))

    def jobs(self, sids):
        return sum(len(self.st.jobs.get(s, [])) for s in sids)


def _sum(recs, attr):
    return float(sum(getattr(r, attr) for r in recs))


def _node_sum(nodes, *names):
    return float(sum(n.metrics.get(k, 0.0) for n in nodes for k in names))


def _busy(stages, lo: float, hi: float) -> float:
    """Wall time within [lo, hi] during which at least one stage ran."""
    iv = [(max(r.start, lo), min(r.end, hi)) for r in stages if r.start and r.end]
    return _union_len([x for x in iv if x[1] > x[0]])


def layer_metrics(tracer: Tracer, st: SparkTrace, it: dict,
                  session_start_s: float, stream_progress: list) -> dict:
    """Per-layer figures of the traced pass ``it`` (the figures its
    steps returned). Counts repeat exactly across runs of one seed."""
    v = _View(tracer, st)

    def ids(prefix):
        return {s.sid for s in v.spans_named(prefix)}

    def dur(prefix):
        return sum(s.dur for s in v.spans_named(prefix))

    def fig(key):
        return float(it.get(key, 0.0))

    all_ids = set(v.spans)
    all_stages = v.stages(all_ids)
    out = {
        "session.start_s": session_start_s,
        "session.python_worker_start_s": _node_sum(v.nodes(all_ids), *PY_BOOT),
    }
    src = ids("sources.")
    out["sources.parse_s"] = dur("sources.")
    out["sources.rows"] = fig("rows")
    out["sources.python_s"] = _node_sum(v.nodes(src), PY_RUN)
    dic = ids("dictionary.")
    out["dictionary.gather_s"] = dur("dictionary.")
    out["dictionary.tokens"] = fig("tokens")
    out["dictionary.shuffle_bytes"] = _sum(v.stages(dic), "shuffle_write")
    out["init.initialize_s"] = dur("init.")
    out["init.phi_rows"] = fig("phi_rows")

    fit = ids("artm.fit_")
    passes = max(fig("passes"), 1.0)
    fit_stages = v.stages(fit)
    kernel_nodes = v.nodes(fit, python_grouped=True)
    # the stages that run the Python grouped-map kernel
    kernel = [r for r in fit_stages if any(o.startswith(PY_GROUPED) for o in r.ops)]
    other = [r for r in fit_stages if r not in kernel]
    idle = kernel_wall = 0.0
    for s in v.spans_named("artm.fit_"):
        lo, hi = s.epoch, s.epoch + s.dur
        idle += s.dur - _busy(v.stages({s.sid}), lo, hi)
        kernel_wall += _busy([r for r in kernel if r.span == s.sid], lo, hi)
    out.update({
        "artm.fit_s": dur("artm.fit_"),
        "artm.transform_s": dur("artm.transform"),
        "artm.jobs_per_pass": v.jobs(fit) / passes,
        "artm.stages_per_pass": len(fit_stages) / passes,
        "artm.driver_idle_s": idle,
        "artm.perplexity": fig("perplexity"),
        "estep.kernel_wall_s": kernel_wall,
        "estep.kernel_python_s": _node_sum(kernel_nodes, PY_RUN),
        "estep.kernel_task_s": _sum(kernel, "run_s"),
        "estep.kernel_cpu_s": _sum(kernel, "cpu_s"),
        "estep.python_bytes_sent": _node_sum(kernel_nodes, PY_SENT),
        "estep.python_bytes_received": _node_sum(kernel_nodes, PY_RECV),
        "estep.shuffle_write_bytes": _sum(kernel, "shuffle_write"),
        "estep.spill_bytes": _sum(kernel, "spill"),
        "estep.infer_python_s": _node_sum(
            v.nodes(ids("artm.transform"), python_grouped=True), PY_RUN),
        "mstep.nonkernel_task_s": _sum(other, "run_s"),
        "mstep.driver_collect_bytes": _sum(other, "result_bytes"),
    })

    near = ids("dedup.deduplicate_corpus")
    cand = v.band_join_rows(near)
    out.update({
        "textstats.quality_s": dur("textstats."),
        "dedup.near_dedup_s": dur("dedup.deduplicate_corpus"),
        "dedup.candidate_pairs": cand,
        "dedup.useful_pair_ratio": fig("near_pairs_found") / cand if cand else 0.0,
        "dedup.cc_jobs": float(v.jobs(near)),
        "dedup.shuffle_bytes": _sum(v.stages(near), "shuffle_write"),
        "dedup.recall": fig("dedup_recall"),
        "dedup.precision": fig("dedup_precision"),
    })

    strm = ids("streaming.")
    add = commit = rows = mem = 0.0
    for runs in stream_progress:  # progress dicts of one traced query run
        for p in runs:
            d = p["durationMs"]
            add += d.get("addBatch", 0)
            commit += d.get("walCommit", 0) + d.get("commitOffsets", 0)
        if runs:
            last = runs[-1]["stateOperators"]
            rows += sum(op["numRowsTotal"] for op in last)
            mem += sum(op["memoryUsedBytes"] for op in last)
    out.update({
        "streaming.add_batch_s": add / 1e3,
        "streaming.commit_s": commit / 1e3,
        "streaming.state_rows": rows,
        "streaming.state_bytes": mem,
        "streaming.python_s": _node_sum(v.nodes(strm), PY_RUN),
        "streaming.shuffle_bytes": _sum(v.stages(strm), "shuffle_write"),
        "streaming.batch_p50_s": fig("stream_batch_p50_s"),
    })

    out.update({
        "spark.jobs": float(v.jobs(all_ids)),
        "spark.tasks": _sum(all_stages, "tasks"),
        "spark.task_s": _sum(all_stages, "run_s"),
        "spark.cpu_s": _sum(all_stages, "cpu_s"),
        "spark.gc_s": _sum(all_stages, "gc_s"),
        "spark.shuffle_write_bytes": _sum(all_stages, "shuffle_write"),
        "spark.spill_bytes": _sum(all_stages, "spill"),
        "spark.failed_tasks": _sum(all_stages, "failed_tasks"),
        "trace.run_s": fig("run_s"),
        "trace.jobgroup_s": tracer.jobgroup_s,
    })
    return out
