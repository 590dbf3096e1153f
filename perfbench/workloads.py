"""The workloads: the steps of one pass, plus checks.

Each ``step_*`` function runs one pipeline through the package's public
functions only, with a span around each call, and returns the figures
the metrics are computed from: ``timed_s`` and ``timed_cpu_s`` (wall
and process-tree CPU seconds of its timed part), ``prep_s`` (files to
ready input) and workload figures such as
``fit_nnz_per_s`` (per wall second) and ``fit_nnz_per_cpu_s`` (per CPU
second).
Checks run after the timed span; each one counts as an attempted
operation, and a failed one as a failed operation.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
from dataclasses import dataclass, field
from typing import Callable

import numpy as np

from perfbench import gen

# fit settings (kept next to the inputs they were sized for)
KOS_TOPICS = 15
KOS_DOC_PASSES = 10
KOS_COLLECTION_PASSES = 1
QUALITY_MIN = 0.4
CHECK_SAMPLE = 25
THETA_ATOL = 1e-6


class Ops:
    """Counts of operations attempted and failed (calls that raised,
    checks that did not hold)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def call(self) -> None:
        self.attempted += 1

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.fail(what)


@dataclass
class Ctx:
    spark: object
    tracer: object
    ops: Ops
    seed: int
    workdir: str
    inputs: object
    sizes: gen.Sizes
    traced: bool = False
    # check references that depend only on the inputs, computed once
    memo: dict = field(default_factory=dict)


def _call(ctx: Ctx, name: str, layer: str, fn):
    """Run one public call inside a span, counting it as an operation.
    Returns the call's result and its span (wall ``dur``, ``cpu_s``)."""
    ctx.ops.call()
    with ctx.tracer.span(name, layer) as sp:
        out = fn()
    return out, sp


# ------------------------------------------------------------ EM checks
def _phi_matrix(model):
    arr, tokens, _ = model.get_phi_dense()
    return np.asarray(arr, dtype=np.float64), tokens


def _numpy_theta(phi_rows: np.ndarray, weights: np.ndarray, passes: int):
    """Independent E-step for one document: uniform start, ``passes``
    rounds of n_td = sum_w n_dw p(t|d,w), then normalize."""
    T = phi_rows.shape[1]
    theta = np.full(T, 1.0 / T)
    for _ in range(passes):
        num = phi_rows * theta
        z = num.sum(axis=1)
        ptdw = np.divide(num, z[:, None], out=np.zeros_like(num),
                         where=z[:, None] > 0)
        n_td = (weights[:, None] * ptdw).sum(axis=0)
        tot = n_td.sum()
        theta = n_td / tot if tot > 0 else np.zeros(T)
    return theta


def check_em(ctx: Ctx, model, heldout_docs, theta_pdf, doc_passes: int,
             expect_docs: int) -> None:
    ops = ctx.ops
    phi, tokens = _phi_matrix(model)
    ops.check(bool((phi >= 0).all()), "phi has a negative entry")
    classes = np.asarray([c for c, _ in tokens])
    ok = True
    for c in np.unique(classes):
        sums = phi[classes == c].sum(axis=0)
        ok &= bool(np.allclose(sums, 1.0, rtol=0, atol=1e-6))
    ops.check(ok, "phi columns are not stochastic per topic and class")
    sums = theta_pdf.groupby("doc_id")["value"].sum()
    ops.check(
        len(sums) == expect_docs and bool(np.allclose(sums, 1.0, atol=1e-6)),
        f"theta rows: {len(sums)} docs (want {expect_docs}) or sums != 1",
    )
    # independent numpy E-step on a sample of held-out docs
    row_of = {tok: i for i, tok in enumerate(tokens)}
    topics = list(model.topic_names)
    wide = theta_pdf.pivot(index="doc_id", columns="topic", values="value")
    sample = [int(x) for x in sorted(wide.index)[:CHECK_SAMPLE]]
    held = (
        heldout_docs.filter(heldout_docs.doc_id.isin(sample))
        .select("doc_id", "class_id", "token", "weight")
        .toPandas()
    )
    worst, seen = 0.0, 0
    for doc, g in held.groupby("doc_id"):
        seen += 1
        idx = [row_of.get((c, t)) for c, t in zip(g["class_id"], g["token"])]
        keep = [i is not None for i in idx]
        rows = phi[[i for i in idx if i is not None]]
        ref = _numpy_theta(rows, g["weight"].to_numpy()[keep], doc_passes)
        got = wide.loc[doc, topics].to_numpy(dtype=np.float64)
        worst = max(worst, float(np.max(np.abs(got - ref))))
    ops.check(seen == len(sample) > 0 and worst <= THETA_ATOL,
              f"held-out theta differs from numpy by {worst} ({seen} docs)")


# ------------------------------------------------------------ kos_offline
def step_kos(ctx: Ctx) -> dict:
    """UCI files -> dictionary -> initialized model -> regularized
    fit_offline -> transform of the held-out docs, then the EM checks."""
    from bigartm_spark.model.artm import ARTM
    from bigartm_spark.model.regularizers import DecorrelatorPhi, SmoothSparsePhi
    from bigartm_spark.operators.dictionary import gather_dictionary
    from bigartm_spark.sources.uci import read_uci

    inp: gen.KosInputs = ctx.inputs
    spark = ctx.spark
    model = ARTM(
        num_topics=KOS_TOPICS, num_document_passes=KOS_DOC_PASSES, seed=ctx.seed,
        phi_regularizers=[SmoothSparsePhi(-0.1),
                          DecorrelatorPhi(ctx.sizes.kos_decorrelator_tau)],
    )
    with ctx.tracer.span("step") as run:
        with ctx.tracer.span("prep") as prep:
            docs, _ = _call(ctx, "sources.read_uci", "sources",
                            lambda: read_uci(spark, inp.train, inp.vocab).cache())
            rows, _ = _call(ctx, "sources.count", "sources", docs.count)
            d, _ = _call(ctx, "dictionary.gather_dictionary", "operators.dictionary",
                         lambda: gather_dictionary(docs).cache())
            tokens, _ = _call(ctx, "dictionary.count", "operators.dictionary", d.count)
            _call(ctx, "init.initialize", "model.init", lambda: model.initialize(d))
        _, fit = _call(ctx, "artm.fit_offline", "model.artm",
                       lambda: model.fit_offline(
                           docs, num_collection_passes=KOS_COLLECTION_PASSES))
        held = read_uci(spark, inp.heldout, inp.vocab)
        theta, tr = _call(ctx, "artm.transform", "model.artm",
                          lambda: model.transform(held).toPandas())
    ctx.ops.check(rows == inp.nnz, f"read_uci rows {rows} != {inp.nnz}")
    check_em(ctx, model, held, theta, KOS_DOC_PASSES, inp.heldout_docs)
    ppl = model.score_tracker.get("perplexity") or [float("nan")]
    ctx.ops.check(math.isfinite(ppl[-1]), "perplexity is not finite")
    out = {
        "timed_s": run.dur, "timed_cpu_s": run.cpu_s,
        "prep_s": prep.dur,
        "prep_rows_per_s": rows / prep.dur,
        "prep_rows_per_cpu_s": rows / prep.cpu_s,
        "fit_nnz_per_s": rows * KOS_COLLECTION_PASSES / fit.dur,
        "fit_nnz_per_cpu_s": rows * KOS_COLLECTION_PASSES / fit.cpu_s,
        "infer_docs_per_s": inp.heldout_docs / tr.dur,
        "infer_docs_per_cpu_s": inp.heldout_docs / tr.cpu_s,
        "perplexity": float(ppl[-1]),
        "rows": rows, "tokens": tokens, "passes": len(ppl),
    }
    if ctx.traced:
        out["phi_rows"] = model.pwt.compact.count()
    spark.catalog.clearCache()
    return out


# ------------------------------------------------------------ dedup_clean
def _survivors(kept: set, texts: dict, sigs) -> set:
    """The survivors deduplicate_corpus promises, rebuilt in Python from
    the package's MinHash signatures only: the lowest id per text
    survives exact dedup; of those, docs whose signatures agree on every
    row of some LSH band are linked, and of each linked component the
    lowest id survives. Band join, pair dedup and connected components
    are all recomputed here, not called."""
    from bigartm_spark.operators.dedup import LSH_BAND_SIZE

    first: dict = {}
    for d in sorted(kept):
        first.setdefault(texts[d], d)
    alive = set(first.values())
    root = {d: d for d in alive}

    def find(x):
        while root[x] != x:
            root[x] = root[root[x]]
            x = root[x]
        return x

    wide = sigs.pivot(index="doc_id", columns="sig_idx", values="minhash")
    wide = wide[wide.index.isin(alive)]
    cols = sorted(wide.columns)
    for j in range(0, len(cols), LSH_BAND_SIZE):
        for ids in wide.groupby(cols[j:j + LSH_BAND_SIZE]).groups.values():
            ids = sorted(int(x) for x in ids)
            for d in ids[1:]:
                ra, rb = find(ids[0]), find(d)
                root[max(ra, rb)] = min(ra, rb)
    return {d for d in alive if find(d) == d}


def step_dedup(ctx: Ctx) -> dict:
    from pyspark.sql import functions as F

    from bigartm_spark.operators import dedup, textstats

    inp: gen.TextInputs = ctx.inputs
    spark = ctx.spark
    with ctx.tracer.span("step") as run:
        docs = spark.read.parquet(inp.docs)

        def quality():
            good = textstats.quality_score(docs).filter(
                F.col("quality") >= QUALITY_MIN).select("doc_id")
            kept = docs.join(good, "doc_id").cache()
            return kept, kept.count()

        (kept, n_kept), prep = _call(ctx, "textstats.quality_score",
                                     "operators.textstats", quality)
        surv, near = _call(
            ctx, "dedup.deduplicate_corpus", "operators.dedup",
            lambda: dedup.deduplicate_corpus(kept).select("doc_id").toPandas())
    ops = ctx.ops
    kept_ids = set(inp.texts) - inp.junk
    ops.check(n_kept == len(kept_ids), f"quality filter kept {n_kept}, want {len(kept_ids)}")
    left = set(surv["doc_id"].tolist())
    ops.check(not left & set(inp.exact_src), "a planted exact duplicate survived")
    # a source is kept unless an LSH band links it to a lower id; such
    # false positives show in dedup_precision
    if inp.docs not in ctx.memo:
        ctx.memo[inp.docs] = _survivors(
            kept_ids, inp.texts, dedup.minhash_signatures(kept).toPandas())
    ops.check(left == ctx.memo[inp.docs],
              "deduplicate_corpus survivors differ from a Python recompute from the signatures")
    planted = set(inp.exact_src) | set(inp.near_src)
    dropped = kept_ids - left
    recall = len(dropped & planted) / len(planted)
    precision = len(dropped & planted) / max(len(dropped), 1)
    ops.check(recall >= 0.9 and precision >= 0.8,
              f"dedup recall {recall:.3f} < 0.9 or precision {precision:.3f} < 0.8")
    spark.catalog.clearCache()
    return {
        "timed_s": run.dur, "timed_cpu_s": run.cpu_s,
        "prep_s": prep.dur,
        "clean_docs_per_s": inp.n_docs / run.dur,
        "clean_docs_per_cpu_s": inp.n_docs / run.cpu_s,
        "dedup_docs_per_s": n_kept / near.dur,
        "dedup_recall": recall,
        "dedup_precision": precision,
        # planted near-duplicate pairs the LSH stage linked (exact copies
        # are gone before it pairs anything)
        "near_pairs_found": len(dropped & set(inp.near_src)),
    }


# ------------------------------------------------------------ stream_dedup
def step_stream(ctx: Ctx) -> dict:
    """The stream files, one per micro-batch, through
    streaming_lsh_candidates into a memory sink."""
    from bigartm_spark.streaming.dedup import streaming_lsh_candidates

    inp: gen.TextInputs = ctx.inputs
    spark = ctx.spark
    table = "perfbench_lsh"
    ckpt = os.path.join(ctx.workdir, f"ckpt_{table}")
    shutil.rmtree(ckpt, ignore_errors=True)

    def run_query():
        src = (spark.readStream.schema("doc_id long, text string")
               .option("maxFilesPerTrigger", 1).parquet(inp.stream_dir))
        q = (streaming_lsh_candidates(src).writeStream.format("memory")
             .queryName(table).outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q, spark.sql(f"select * from {table}").toPandas()

    with ctx.tracer.span("step") as run:
        with ctx.tracer.span("streaming.lsh", "streaming") as sp:
            ctx.ops.call()
            q, res = run_query()
    spark.catalog.dropTempView(table)
    shutil.rmtree(ckpt, ignore_errors=True)
    ops = ctx.ops
    cand = set(res["doc_id"].tolist())
    ops.check(all(d in cand for d in inp.exact_src),
              "a planted exact duplicate got no streaming LSH candidate")
    batches = [p["durationMs"]["triggerExecution"] / 1e3 for p in q.recentProgress]
    ops.check(len(batches) == len(os.listdir(inp.stream_dir)),
              "the stream did not run one micro-batch per file")
    return {
        "timed_s": run.dur, "timed_cpu_s": run.cpu_s,
        "stream_docs_per_s": inp.n_docs / sp.dur,
        "stream_docs_per_cpu_s": inp.n_docs / run.cpu_s,
        "stream_batch_p50_s": statistics.median(batches),
        "progress": {"lsh": q.recentProgress},
        "query_runs": {str(q.runId): sp.sid},
    }


@dataclass(frozen=True)
class Workload:
    make: Callable  # (seed, out_dir, sizes) -> one input per step
    steps: tuple  # step functions, run in order in one pass
    primary: str  # figure reported as primary_per_cpu_s
    secondary: str  # figure reported as secondary_per_cpu_s


def _one(make):
    return lambda seed, out, sz: (make(seed, out, sz),)


def _stream_and_text(seed, out, sz):
    return (gen.gen_stream_text(seed, os.path.join(out, "stream"), sz),
            gen.gen_text(seed, os.path.join(out, "batch"), sz))


WORKLOADS = {
    "kos_offline": Workload(
        _one(gen.gen_kos), (step_kos,), "fit_nnz_per_cpu_s", "prep_rows_per_cpu_s"),
    "text_dedup": Workload(
        _stream_and_text, (step_stream, step_dedup),
        "clean_docs_per_cpu_s", "stream_docs_per_cpu_s"),
}
