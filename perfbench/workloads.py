"""The two workloads. Each one makes its inputs (timed as set-up),
warms up untimed, runs one closed-loop iteration on demand, checks
every output against the benchmark's own truth, and runs one traced
iteration that fills the per-layer metrics.

Only public entry points of the program are called:
``plans.pipeline.ERPipeline.run`` / ``.incremental`` and
``operators.dedup.minhash_lsh_dedup`` / ``.winnow_dedup`` /
``.embedding_near_dup``.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

from . import inputs, procstat, quality
from .harness import Attempt, Tracer, attempt

# input sizes: small enough that a whole run (JVM start, set-up,
# warm-up, timed loop) takes about a minute at 4 cores, large enough
# that the stage work shows beside the per-job overheads
ER_BATCH_PAGES = 1500
ER_WARM_UP_PAGES = 200
ER_ATTACH_DELTA = 150  # per chained attach: 10% of the base
ATTACH_BUDGET_S = 25  # an attach takes 17-21 s at 4 cores
NEAR_DUP_DOCS = 200

# per-layer metrics every traced run reports (0 where the workload does
# not run or span that layer), with their units
PER_LAYER = {
    "operators.extract.s": "s",
    "operators.preprocess.s": "s",
    "operators.preprocess.unique_strings": "count",
    "operators.blocking.s": "s",
    "operators.blocking.cpu_util": "ratio",
    "operators.blocking.keys": "count",
    "operators.pairs.s": "s",
    "operators.pairs.candidates": "count",
    "operators.features.s": "s",
    "operators.features.cpu_util": "ratio",
    "operators.features.tasks": "count",
    "operators.features.pairs_per_s": "1/s",
    "operators.features.codegen_fallbacks": "count",
    "operators.classify.s": "s",
    "operators.classify.matches": "count",
    "operators.classify.match_yield": "ratio",
    "operators.cluster.s": "s",
    "operators.cluster.cpu_util": "ratio",
    "operators.cluster.clusters": "count",
    "plans.pipeline.overhead_s": "s",
    "plans.pipeline.incremental.attach_1_s": "s",
    "plans.pipeline.incremental.attach_2_s": "s",
    "plans.pipeline.incremental.candidates": "count",
    "plans.pipeline.incremental.matches": "count",
    "sources.sinks.checkpoint_mb": "MB",
    "operators.dedup.minhash.s": "s",
    "operators.dedup.minhash.cpu_util": "ratio",
    "operators.dedup.minhash.pairs": "count",
    "operators.dedup.minhash.scratch_peak_mb": "MB",
    "operators.dedup.winnow.s": "s",
    "operators.dedup.winnow.cpu_util": "ratio",
    "operators.dedup.winnow.pairs": "count",
    "operators.dedup.winnow.scratch_peak_mb": "MB",
    "operators.simsearch.allpairs.s": "s",
    "operators.simsearch.allpairs.pairs": "count",
    "failed_tasks": "count",
    "tracing_overhead_s": "s",
}


@dataclass
class Context:
    spark: object
    work: str  # benchmark-owned scratch root, wiped before every run
    seed: int
    cores: int
    deadline: float  # time.perf_counter() by which the run must be done


@dataclass
class Outcome:
    """What one checked output contributes: quality counts and digest."""

    tp: int
    fp: int
    fn: int
    digest: str


class Workload:
    name = ""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark
        self.data = os.path.join(ctx.work, "inputs")
        self.ckpt = os.path.join(ctx.work, "checkpoint")
        self.outcomes: list[Outcome] = []
        self.traced: list[Attempt] = []  # operations of the traced iteration

    def make_inputs(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def iterate(self) -> list[Attempt]:
        raise NotImplementedError

    def trace(self, tracer: Tracer, untraced_s: float) -> dict[str, float]:
        raise NotImplementedError

    def fresh_checkpoint(self) -> str:
        shutil.rmtree(self.ckpt, ignore_errors=True)
        return self.ckpt

    def record(self, tp: int, fp: int, fn: int, dig: str) -> list[str]:
        """Keep a checked output; an output whose digest differs from
        the first one of this run is a problem (same seed, same code)."""
        if self.outcomes and self.outcomes[0].digest != dig:
            return [f"output digest {dig[:12]} differs from this run's first {self.outcomes[0].digest[:12]}"]
        self.outcomes.append(Outcome(tp, fp, fn, dig))
        return []

    def note_traced(self, name: str, wall_s: float, problems: list[str], records: int) -> None:
        """Count an operation of the traced iteration like a timed one:
        one whose check found problems is failed and fails the run."""
        self.traced.append(Attempt(name, not problems, 0 if problems else records, wall_s, problems))

    def quality(self) -> tuple[float, float, float]:
        o = self.outcomes[-1]
        return quality.prf(o.tp, o.fp, o.fn)


# -- ER ---------------------------------------------------------------------


def _labels_of(df):
    return [(r["record_id"], int(r["cluster_id"])) for r in df.select("record_id", "cluster_id").collect()]


class ErBatch(Workload):
    """Full batch run of the golden model, no labels, no reports. Its
    traced run also times two chained incremental attaches onto the
    traced run's checkpoint (the attach path has no workload of its
    own: see README.md)."""

    name = "er_batch"
    # a third attach (~20 s) would bring the traced run to ~165 s, too
    # close to its 180 s limit on a shared host
    ATTACHES = 2
    # (stage passed as run(until=...), layer module it runs); None = full run
    STEPS = (
        ("extract", "operators.extract"),
        ("preprocess", "operators.preprocess"),
        ("unique_strings", "operators.preprocess"),
        ("embed", "operators.preprocess"),
        ("records_wide", "operators.preprocess"),
        ("block", "operators.blocking"),
        ("pairs", "operators.pairs"),
        ("score", "operators.features"),
        ("classify", "operators.classify"),
        ("cc_raw", "operators.cluster"),
        (None, "operators.cluster"),
    )

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        from entity_resolution_pipeline_v1_spark.config import PipelineConfig
        from entity_resolution_pipeline_v1_spark.plans.pipeline import ERPipeline
        from entity_resolution_pipeline_v1_spark.sources import pages, sinks

        self.Config, self.Pipeline, self.pages_mod, self.sinks = PipelineConfig, ERPipeline, pages, sinks

    def pipeline(self):
        return self.Pipeline(self.spark, self.Config(checkpoint_dir=self.ckpt))

    def pages(self, k: int = 0):
        return self.spark.read.parquet(self.paths[k])

    def check_labels(self, labels, known) -> list[str]:
        problems = quality.label_problems([r for r, _ in labels], [c for _, c in labels], known)
        if problems:
            return problems
        return self.record(*quality.labeled_pair_counts(dict(labels), self.labeled),
                           quality.digest(labels))

    def make_inputs(self) -> None:
        self.paths, self.warm_path, rows = inputs.write_er_inputs(
            self.spark, self.pages_mod, self.ctx.seed,
            [ER_BATCH_PAGES] + [ER_ATTACH_DELTA] * self.ATTACHES, ER_WARM_UP_PAGES, self.data)
        self.ids = sorted(r for r, _, _ in rows)
        self.base_ids = self._known(0)
        self.labeled = inputs.er_labeled_pairs([row for row in rows if row[0] in self.base_ids])

    def _known(self, k: int) -> set[str]:
        """Record ids of the base corpus and the first k deltas."""
        return set(self.ids[: ER_BATCH_PAGES + k * ER_ATTACH_DELTA])

    def warm_up(self) -> None:
        """One untimed run through the score stage over the first pages
        of the base corpus: the JVM, codegen and Python workers warm up
        as on the full input, at a fraction of a full run's cost."""
        self.fresh_checkpoint()
        self.pipeline().run(self.spark.read.parquet(self.warm_path), until="score").count()

    def iterate(self) -> list[Attempt]:
        self.fresh_checkpoint()
        pipe = self.pipeline()
        a, _ = attempt("run", lambda: _labels_of(pipe.run(self.pages())),
                       lambda labels: self.check_labels(labels, self.base_ids), ER_BATCH_PAGES)
        return [a]

    def trace(self, tracer: Tracer, untraced_s: float) -> dict[str, float]:
        self.fresh_checkpoint()
        pipe, pages = self.pipeline(), self.pages()
        with tracer.span("plans.pipeline.run") as root:
            for stage, layer in self.STEPS:
                with tracer.span(layer, stage=stage or "cluster"):
                    out = pipe.run(pages, until=stage)
                    if stage is None:
                        labels = _labels_of(out)
        self.note_traced("traced run", root["wall_s"], self.check_labels(labels, self.base_ids),
                         ER_BATCH_PAGES)
        rows = lambda st: self.sinks.manifest_rows(self.ckpt, st)  # noqa: E731
        keys = self.sinks.read_stage(self.spark, self.ckpt, "block").select("block_key").distinct().count()
        stage_s = sum(s["wall_s"] for s in tracer.spans if s["parent"] == root["id"])
        m = {f"{layer}.s": tracer.total(layer) for _, layer in self.STEPS}
        for layer in ("operators.blocking", "operators.features", "operators.cluster"):
            m[f"{layer}.cpu_util"] = tracer.cpu_util(layer)
        features_s = tracer.total("operators.features")
        m.update({
            "operators.preprocess.unique_strings": rows("unique_strings"),
            "operators.blocking.keys": keys,
            "operators.pairs.candidates": rows("pairs"),
            "operators.features.tasks": tracer.total("operators.features", "tasks"),
            "operators.features.pairs_per_s": rows("score") / features_s if features_s else 0.0,
            "operators.features.codegen_fallbacks": tracer.total("operators.features", "codegen_fallbacks"),
            "operators.classify.matches": rows("classify"),
            "operators.classify.match_yield": rows("classify") / max(rows("pairs"), 1),
            "operators.cluster.clusters": len({c for _, c in labels}),
            "plans.pipeline.overhead_s": untraced_s - stage_s,
            "sources.sinks.checkpoint_mb": procstat.dir_mb(self.ckpt),
            "tracing_overhead_s": root["wall_s"] - untraced_s,
        })
        m.update(self._trace_attaches(pipe, tracer))
        return m

    def _trace_attaches(self, pipe, tracer: Tracer) -> dict[str, float]:
        """Chain the attaches onto the traced run; counts come from the
        increment manifests."""
        m: dict[str, float] = {}
        for k in range(1, self.ATTACHES + 1):
            if time.perf_counter() + ATTACH_BUDGET_S > self.ctx.deadline:
                # a slow host: an attach started now could overrun the
                # run's time limit, which would lose every metric. A
                # skipped attach fails the run, so its 0 is never read
                # as a time.
                self.note_traced(f"attach {k}", 0.0, ["skipped: too close to the run's time limit"], 0)
                continue
            with tracer.span("plans.pipeline.incremental", attach=k) as sp:
                labels = _labels_of(pipe.incremental(self.pages(k)))
            self.note_traced(f"attach {k}", sp["wall_s"],
                             quality.label_problems([r for r, _ in labels], [c for _, c in labels],
                                                    self._known(k)),
                             ER_ATTACH_DELTA)
            m[f"plans.pipeline.incremental.attach_{k}_s"] = sp["wall_s"]
        inc = [os.path.join(self.ckpt, f"inc={k}") for k in range(1, len(m) + 1)]  # attaches done
        m["plans.pipeline.incremental.candidates"] = sum(self.sinks.manifest_rows(d, "pairs") for d in inc)
        m["plans.pipeline.incremental.matches"] = sum(self.sinks.manifest_rows(d, "classify") for d in inc)
        return m


# -- near_dup -----------------------------------------------------------------


class NearDup(Workload):
    name = "near_dup"
    FAMILIES = (
        ("minhash", "operators.dedup.minhash"),
        ("winnow", "operators.dedup.winnow"),
        ("embedding", "operators.simsearch.allpairs"),
    )

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        from entity_resolution_pipeline_v1_spark.operators import dedup

        self.dedup = dedup
        self.pairs: dict[str, list[tuple]] = {}

    def make_inputs(self) -> None:
        corpus = inputs.near_dup_corpus(self.ctx.seed, NEAR_DUP_DOCS)
        self.truth = corpus.truth
        self.spark.createDataFrame(corpus.docs, "doc_id string, text string") \
            .write.mode("overwrite").parquet(os.path.join(self.data, "docs"))
        self.spark.createDataFrame(corpus.vectors, "doc_id string, embedding array<double>") \
            .write.mode("overwrite").parquet(os.path.join(self.data, "vectors"))

    def _call(self, family: str) -> list[tuple]:
        docs = self.spark.read.parquet(os.path.join(self.data, "docs"))
        vecs = self.spark.read.parquet(os.path.join(self.data, "vectors"))
        d = self.dedup
        if family == "minhash":
            df = d.minhash_lsh_dedup(docs, jaccard_threshold=inputs.MINHASH_THRESHOLD,
                                     shingle_size=inputs.SHINGLE)
        elif family == "winnow":
            df = d.winnow_dedup(docs, jaccard_threshold=inputs.WINNOW_THRESHOLD)
        else:
            df = d.embedding_near_dup(vecs, id_col="doc_id", vec_col="embedding",
                                      cosine_threshold=inputs.COSINE_THRESHOLD)
        return [(r["id1"], r["id2"]) for r in df.select("id1", "id2").collect()]

    def _check(self, family: str, pairs: list[tuple]) -> list[str]:
        problems = quality.pair_problems(pairs)
        if not problems:
            self.pairs[family] = pairs
        if not problems and family == self.FAMILIES[-1][0]:
            # the iteration's last family completes the output set
            if set(self.pairs) != {f for f, _ in self.FAMILIES}:
                return ["an earlier dedup family of this iteration produced no output"]
            counts = [quality.pair_set_counts(set(self.pairs[f]), self.truth) for f, _ in self.FAMILIES]
            return self.record(*(sum(c[i] for c in counts) for i in range(3)),
                               quality.digest((f, *p) for f, ps in self.pairs.items() for p in ps))
        return problems

    def warm_up(self) -> None:
        """The three families once over the full input."""
        for family, _ in self.FAMILIES:
            self._call(family)

    def iterate(self) -> list[Attempt]:
        self.pairs = {}
        out = []
        for family, _ in self.FAMILIES:
            a, _ = attempt(family, lambda f=family: self._call(f),
                           lambda p, f=family: self._check(f, p), NEAR_DUP_DOCS)
            out.append(a)
        return out

    def trace(self, tracer: Tracer, untraced_s: float) -> dict[str, float]:
        m: dict[str, float] = {}
        self.pairs = {}
        for family, layer in self.FAMILIES:
            with tracer.span(layer) as sp:
                pairs = self._call(family)
            self.note_traced(f"traced {family}", sp["wall_s"], self._check(family, pairs), NEAR_DUP_DOCS)
            m[f"{layer}.s"] = sp["wall_s"]
            m[f"{layer}.pairs"] = len(pairs)
            if family != "embedding":
                m[f"{layer}.cpu_util"] = sp["cpu_util"]
                m[f"{layer}.scratch_peak_mb"] = sp["scratch_peak_mb"]
        m["tracing_overhead_s"] = sum(m[f"{layer}.s"] for _, layer in self.FAMILIES) - untraced_s
        return m


WORKLOADS = {w.name: w for w in (ErBatch, NearDup)}
