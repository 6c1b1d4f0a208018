"""The benchmark's ranking workloads.

Each workload generates its input from the seed, runs one ranking job
at a time (untraced, or traced under a ``Tracer``) and checks every
job's output.  See README.md for why each workload exists.
"""
from __future__ import annotations

import contextlib
import dataclasses
import glob
import json
import math
import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from outrank_spark.hashing import qcol
from outrank_spark.jobs import rank_job
from outrank_spark.operators import derived, interactions, pair_scoring
from outrank_spark.operators import sketch_build
from outrank_spark.plans import combinations, ranking_job, reports
from outrank_spark.sketches.hll import ParityHyperLogLog
from outrank_spark.sources import pages as pages_source
from outrank_spark.sources import readers
from outrank_spark.sources.ranking_matrix import ranking_matrix_pandas
from outrank_spark.streaming import ranking_stream

NEEDLE = ["f30", "f31"]       # bench_naive: label == f30, f31 == 19 * f30
CARD_ERR_LIMIT = 3.0          # |estimate - exact| within 3 sigma


class JobOutput:
    """What one job leaves behind for the checks: its report folder
    and, for sliced jobs, the wall time of each slice and the slice ids
    restored from an earlier run's state."""

    def __init__(self, out_dir: str, slice_s: list[float] | None = None,
                 state_bytes: int = 0, state_bytes_written: int = 0,
                 restored: list[int] | None = None):
        self.out_dir = out_dir
        self.slice_s = slice_s
        self.state_bytes = state_bytes
        self.state_bytes_written = state_bytes_written
        self.restored = restored
        self.trace_job = -1  # the tracer's job id, for traced jobs

    def pairwise(self) -> pd.DataFrame:
        return pd.read_csv(os.path.join(self.out_dir, "pairwise_ranks.tsv"),
                           sep="\t")

    def singles(self) -> pd.DataFrame:
        return pd.read_csv(os.path.join(self.out_dir, "feature_singles.tsv"),
                           sep="\t")


@dataclasses.dataclass
class SliceRun:
    """One pass of slices through an accumulator."""

    acc: ranking_stream.StreamingRankingAccumulator
    cfg: ranking_job.RankingConfig
    df: object                          # the reader's DataFrame
    restored: list[int]                 # slice ids restored from state
    slice_s: list[float] = dataclasses.field(default_factory=list)
    written: int = 0                    # state bytes written


def _forced(df):
    """Run ``df`` into Spark's noop sink; the caller still gets ``df``."""
    df.write.format("noop").mode("overwrite").save()
    return df


def _forced_info(info: readers.DatasetInfo) -> readers.DatasetInfo:
    _forced(info.df)
    return info


def _base_name(feature: str) -> str:
    return feature.rsplit("-(", 1)[0]


def _card(feature: str) -> int:
    return int(feature.rsplit("-(", 1)[1].split(";")[0])


def pair_map(pairwise: pd.DataFrame) -> dict:
    return {(a, b): s for a, b, s in pairwise[["FeatureA", "FeatureB",
                                                "Score"]].itertuples(False)}


def singles_map(singles: pd.DataFrame) -> dict:
    return dict(zip(singles["Feature"], singles.iloc[:, 1]))


def serial_run_ranking(tracer, spark, df, cfg, planner=None):
    """``ranking_job.run_ranking`` with one span per layer call.

    run_ranking overlaps its sketch job with scoring on a background
    thread; here the layers run one after another so each span times
    one layer.  The serialisation is part of ``trace.overhead_s``, and
    the checks require the same output as run_ranking.
    """
    columns = cfg.feature_columns or list(df.columns)
    planner = planner or combinations.CombinationPlanner(seed=cfg.seed)
    if cfg.reference_model_json or cfg.heuristic == "MI-table-exact":
        raise ValueError("traced ranking covers the minibatch heuristics "
                         "without a reference model")
    with tracer.span("plans.ranking_job"):
        sub = pair_scoring.deterministic_subsample(
            df.select(*[qcol(c).alias(c) for c in columns]),
            cfg.subsampling, key_cols=columns)
        with tracer.span("operators.pair_scoring.subsample"):
            n_rows = sub.count()
        with tracer.span("operators.sketch_build") as sp:
            sketches = sketch_build.build_sketches(
                sub, ranking_job.sketch_plan_for(cfg, columns))
        sp.attrs.update(keys=len(sketches), blob_bytes=sum(
            len(sk.to_bytes()) for sk in sketches.values()))

        parallelism = spark.sparkContext.defaultParallelism
        n_batches = max(1, math.ceil(n_rows / cfg.minibatch_size))
        n_batches = max(n_batches, cfg.batches_per_core * parallelism)
        n_batches = min(n_batches, max(1, n_rows // cfg.min_batch_rows))
        with tracer.span("plans.combinations") as sp:
            pairs = planner.plan(columns, cfg.label_column, cfg.heuristic,
                                 cfg.target_ranking_only,
                                 cfg.combination_number_upper_bound)
        sp.attrs["pairs"] = len(pairs)
        with tracer.span("operators.pair_scoring") as sp:
            triplets = pair_scoring.score_batches(
                sub, columns, pairs, cfg.heuristic, cfg.label_column,
                n_batches, cfg.mi_stratified_sampling_ratio,
            ).localCheckpoint(eager=True)
        sp.attrs.update(batches=n_batches, triplets=triplets.count())
        with tracer.span("plans.ranking_job.median"):
            grouped = (
                pair_scoring.symmetrize(triplets)
                .groupBy("feature_a", "feature_b")
                .agg(F.median("score").alias("score"))
                .toPandas()
            )
        cards = {c: sketches[(c, "parity_hll")].estimate() for c in columns}
        coverage = {c: sketches[(c, "coverage")].coverage() for c in columns}
        grouped.columns = ["FeatureA", "FeatureB", "Score"]
        raw = grouped.copy()
        if cfg.include_cardinality_in_feature_names:
            def rename(name: str) -> str:
                return f"{name}-({cards[name]}; {int(round(coverage[name], 1))})"

            grouped["FeatureA"] = grouped["FeatureA"].map(rename)
            grouped["FeatureB"] = grouped["FeatureB"].map(rename)
        pairwise = grouped.sort_values(by=["Score"]).reset_index(drop=True)
        with tracer.span("plans.ranking_job.singles"):
            singles = ranking_job.feature_singles_summary(
                pairwise, cfg.label_column, cfg.heuristic)
    return ranking_job.RankingResult(
        pairwise=pairwise, singles=singles, sketches=sketches,
        coverage=coverage, cardinalities=cards, planner=planner,
        triplets_raw=raw)


def _reports_attrs(args, kwargs, written):
    out = args[2] if len(args) > 2 else kwargs["output_folder"]
    return {"bytes": sum(os.path.getsize(os.path.join(out, n))
                         for n in written)}


def _span(tracer, name):
    return contextlib.nullcontext() if tracer is None else tracer.span(name)


def _instrument_common(tracer, stack) -> None:
    """Layers every workload reaches through module attributes; callers
    of ``run_ranking`` get the serial, one-span-per-layer version."""
    original = ranking_job.run_ranking
    ranking_job.run_ranking = (
        lambda spark, df, cfg, planner=None:
        serial_run_ranking(tracer, spark, df, cfg, planner))
    stack.callback(setattr, ranking_job, "run_ranking", original)
    tracer.instrument(stack, reports, "write_reports", "plans.reports",
                      attrs=_reports_attrs)


class Workload:
    name = ""
    predicted_layer = ""   # the layer with the most self time, predicted
    n_slices = 1
    label = "label"

    def __init__(self, tiny: bool):
        self.rows = 0
        self.input_path = ""
        self.exact_cards: dict[str, int] = {}
        # first untraced measured job's output: traced jobs and the
        # resume check must reproduce it
        self.reference_output: JobOutput | None = None

    # set-up: input generation and warm-up ------------------------------
    def generate(self, spark, path: str, seed: int) -> None:
        raise NotImplementedError

    def warm_up(self, spark, work: str) -> None:
        self.job(spark, os.path.join(work, "warm-up"))

    # jobs ----------------------------------------------------------------
    def job(self, spark, out: str, tracer=None) -> JobOutput:
        raise NotImplementedError

    def expected_pairs(self, n_columns: int) -> int:
        """Target-only ranking: (label, c) for every column c,
        symmetrised -- the reference selftest's 201 rows at 100 features."""
        return 2 * (n_columns - 1) + 1

    def hll_p(self) -> int:
        return ParityHyperLogLog.P

    def compute_exact_cards(self, spark) -> None:
        raise NotImplementedError

    # checks ----------------------------------------------------------------
    def card_err_sigma(self, pairwise: pd.DataFrame) -> float:
        """Max over base columns of |HLL estimate - exact distinct count|
        in units of the estimator's standard error 1.04/sqrt(2^p)."""
        sigma = 1.04 / math.sqrt(2 ** self.hll_p())
        est = {}
        for name in pd.concat([pairwise["FeatureA"], pairwise["FeatureB"]]):
            est[_base_name(name)] = _card(name)
        return max(abs(est[c] - n) / (max(n, 1) * sigma)
                   for c, n in self.exact_cards.items())

    def check(self, res: JobOutput) -> tuple[list[str], float]:
        """Failed checks of one job's output, and its cardinality error."""
        fails = []
        for path in glob.glob(os.path.join(res.out_dir, "*")):
            try:
                if path.endswith(".tsv"):
                    pd.read_csv(path, sep="\t")
                elif path.endswith(".json"):
                    with open(path) as f:
                        json.load(f)
            except (ValueError, OSError) as exc:
                fails.append(f"report {os.path.basename(path)}: {exc}")
        try:
            pairwise, singles = res.pairwise(), res.singles()
        except (ValueError, OSError) as exc:
            return fails + [f"reports missing: {exc}"], float("nan")
        n_cols = len({_base_name(a) for a in pairwise["FeatureA"]}
                     | {_base_name(b) for b in pairwise["FeatureB"]})
        if len(pairwise) != self.expected_pairs(n_cols):
            fails.append(f"{len(pairwise)} pairwise rows, expected "
                         f"{self.expected_pairs(n_cols)}")
        if not np.isfinite(pairwise["Score"].to_numpy(float)).all():
            fails.append("non-finite pairwise score")
        err = self.card_err_sigma(pairwise)
        if not err <= CARD_ERR_LIMIT:
            fails.append(f"cardinality error {err:.2f} sigma")
        fails += self.check_needle(singles)
        return fails, err

    def check_needle(self, singles: pd.DataFrame) -> list[str]:
        top = [_base_name(f) for f in singles["Feature"]
               if _base_name(f) != self.label][:len(NEEDLE)]
        return [] if top == NEEDLE else [f"singles head {top}, not {NEEDLE}"]

    def same_output(self, res: JobOutput, ref: JobOutput) -> list[str]:
        fails = []
        if pair_map(res.pairwise()) != pair_map(ref.pairwise()):
            fails.append(f"pairwise differs from {ref.out_dir}")
        if singles_map(res.singles()) != singles_map(ref.singles()):
            fails.append(f"singles differ from {ref.out_dir}")
        return fails

    def interrupted_run(self, spark, work: str) -> JobOutput | None:
        """The resume check's untimed run, made before the timed loop;
        None when the workload has no resume check."""
        return None

    def resume_fails(self, resumed: JobOutput) -> list[str]:
        """Failed checks of ``interrupted_run``'s output against the
        first untraced timed job's."""
        if self.reference_output is None:
            return ["no timed job to compare the resumed run with"]
        return self.same_output(resumed, self.reference_output)

    def provenance(self) -> dict:
        return {"input_rows": self.rows, "input_path_bytes": sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(self.input_path) for f in fs)}


class PagesFull(Workload):
    """Web pages -> derived + order-2 interaction features -> full
    triangle ranking -> reports.  Scoring-bound."""

    name = "pages_full"
    predicted_layer = "operators.pair_scoring"
    cfg = ranking_job.RankingConfig(subsampling=1, hll_p=16,
                                    target_ranking_only=False)

    def __init__(self, tiny: bool):
        super().__init__(tiny)
        self.rows = 2_000 if tiny else 8_000

    def generate(self, spark, path, seed):
        pages_source.generate_pages(spark, self.rows, seed=seed,
                                    max_tokens=48).write.parquet(path)
        self.input_path = path

    def base_features(self, spark):
        pages = pages_source.read_pages_table(spark, self.input_path,
                                              fmt="parquet")
        return derived.with_web_features(pages).select(
            "host", "tld", F.col("lang").alias("label"),
            (F.col("text_len") / 100).cast("long").cast("string")
            .alias("len_bucket"),
            (F.col("n_token") / 10).cast("long").cast("string")
            .alias("tok_bucket"),
            F.date_format("ts_day", "yyyy-MM-dd").alias("day"),
            F.date_format("ts_hour", "HH").alias("hour"),
            F.substring(F.split(F.col("url"), "/").getItem(3), 1, 2)
            .alias("path_prefix"),
        )

    def job(self, spark, out, tracer=None):
        with contextlib.ExitStack() as stack:
            if tracer is not None:
                tracer.instrument(stack, pages_source, "read_pages_table",
                                  "sources.readers", force=_forced)
                tracer.instrument(stack, derived, "with_web_features",
                                  "operators.derived", force=_forced)
                tracer.instrument(
                    stack, interactions, "with_interaction_features",
                    "operators.interactions",
                    force=lambda r: (_forced(r[0]), r[1]))
                _instrument_common(tracer, stack)
            feats, _ = interactions.with_interaction_features(
                self.base_features(spark), label_column="label",
                interaction_order=2, as_hex=False)
            res = ranking_job.run_ranking(spark, feats, self.cfg)
            reports.write_reports(res, self.cfg, out)
        return JobOutput(out)

    def expected_pairs(self, n_columns):
        # full triangle plus non-label diagonal, symmetrised: n x n
        return n_columns * n_columns

    def hll_p(self):
        return self.cfg.hll_p

    def compute_exact_cards(self, spark):
        base = self.base_features(spark)
        row = base.agg(*[F.countDistinct(c).alias(c)
                         for c in base.columns]).first()
        self.exact_cards = row.asDict()

    def check_needle(self, singles):
        return []  # no planted feature in the pages table


class CkptSlices(Workload):
    """The bench_naive matrix read through ``sources.readers``, cut into
    xxhash slices, each one ``StreamingRankingAccumulator.process_batch``
    call with a whole-state write, then ``result()`` and reports.
    Sketch-build-bound."""

    name = "ckpt_slices"
    predicted_layer = "operators.sketch_build"
    # a slice costs about the same at any row count but grows with the
    # feature count; 40 keep the f30/f31 needle and fit two jobs in a run
    n_features = 40

    def __init__(self, tiny: bool):
        super().__init__(tiny)
        self.rows = 400 if tiny else 1_200
        self.n_slices = 2 if tiny else 4
        self.frame: pd.DataFrame | None = None

    def generate(self, spark, path, seed):
        """What ``rank_job --task data_generator --generator_type
        bench_naive`` writes, with the benchmark seed in place of the
        generator's fixed one."""
        self.frame = ranking_matrix_pandas(self.n_features, self.rows,
                                           "bench_naive", seed=seed)
        os.makedirs(path)
        self.frame.to_csv(os.path.join(path, "data.csv"), index=False)
        self.input_path = path

    def cli_args(self, out, state_dir):
        # the CLI's resumable path, unsubsampled: with --subsampling 10
        # the subsample hash and the slice hash are the same xxhash64,
        # so every slice index sharing a factor with 10 stays empty
        return rank_job.build_parser().parse_args([
            "--task", "ranking", "--data_source", "csv-raw",
            "--data_path", self.input_path, "--output_folder", out,
            "--subsampling", "1", "--checkpoint_dir", state_dir,
            "--checkpoint_slices", str(self.n_slices)])

    def _accumulate(self, spark, out, state_dir, tracer=None,
                    slices=None) -> SliceRun:
        """Slices cut exactly as ``rank_job._run_ranking_checkpointed``
        cuts them, each fed to one accumulator on ``state_dir``."""
        args = self.cli_args(out, state_dir)
        df = readers.read_dataset(spark, args.data_path,
                                  args.data_source).df
        columns = list(df.columns)
        cfg = rank_job._config_from_args(args, feature_columns=columns)
        sub = df.select(*[qcol(c).alias(c) for c in columns])
        n = args.checkpoint_slices
        slice_expr = F.pmod(F.xxhash64(*[qcol(c) for c in columns]),
                            F.lit(n))
        acc = ranking_stream.StreamingRankingAccumulator(
            cfg, state_dir=state_dir, context=f"cli-slices={n}")
        run = SliceRun(acc, cfg, df, restored=sorted(
            b["batch_id"] for b in acc.batches_seen))
        state = os.path.join(state_dir, "ranking_state.bin")
        for i in range(n) if slices is None else slices:
            t0 = time.perf_counter()
            with _span(tracer, "streaming.ranking_stream.process_batch"):
                acc.process_batch(sub.where(slice_expr == i), batch_id=i)
            run.slice_s.append(time.perf_counter() - t0)
            run.written += os.path.getsize(state)
        return run

    def job(self, spark, out, tracer=None):
        state_dir = out + "-state"
        with contextlib.ExitStack() as stack:
            if tracer is not None:
                tracer.instrument(
                    stack, ranking_stream, "build_sketches",
                    "operators.sketch_build",
                    attrs=lambda a, k, sk: {
                        "keys": len(sk), "blob_bytes": sum(
                            len(s.to_bytes()) for s in sk.values())})
                tracer.instrument(
                    stack, ranking_stream, "score_batches",
                    "operators.pair_scoring",
                    force=lambda df: df.localCheckpoint(eager=True),
                    attrs=lambda a, k, df: {"batches": a[5],
                                            "triplets": df.count()})
                tracer.instrument(stack, combinations.CombinationPlanner,
                                  "plan", "plans.combinations",
                                  attrs=lambda a, k, p: {"pairs": len(p)})
                tracer.instrument(stack, ranking_stream,
                                  "feature_singles_summary",
                                  "plans.ranking_job.singles")
                tracer.instrument(stack, readers, "read_dataset",
                                  "sources.readers", force=_forced_info)
                tracer.instrument(stack, reports, "feature_memory_estimate",
                                  "plans.reports.memory_estimate")
                _instrument_common(tracer, stack)
            run = self._accumulate(spark, out, state_dir, tracer)
            with _span(tracer, "streaming.ranking_stream.result"):
                result = run.acc.result()
            # as rank_job's ranking task does after ranking
            memory = reports.feature_memory_estimate(
                run.df, run.cfg.feature_columns)
            reports.write_reports(result, run.cfg, out, memory=memory)
        state_bytes = os.path.getsize(
            os.path.join(state_dir, "ranking_state.bin"))
        shutil.rmtree(state_dir)
        return JobOutput(out, run.slice_s, state_bytes, run.written)

    def warm_up(self, spark, work):
        out = os.path.join(work, "warm-up")
        run = self._accumulate(spark, out, out + "-state", slices=[0])
        reports.feature_memory_estimate(run.df, run.cfg.feature_columns)
        reports.write_reports(run.acc.result(), run.cfg, out)
        shutil.rmtree(out + "-state")

    def compute_exact_cards(self, spark):
        self.exact_cards = {c: int(n) for c, n in self.frame.nunique().items()}

    def interrupted_run(self, spark, work):
        """Stop after half the slices, then finish with a new accumulator
        on the same ``state_dir``, as a restart after a crash does."""
        out = os.path.join(work, "resumed")
        state_dir = out + "-state"
        self._accumulate(spark, out, state_dir,
                         slices=range(self.n_slices // 2))
        run = self._accumulate(spark, out, state_dir)
        reports.write_reports(run.acc.result(), run.cfg, out)
        return JobOutput(out, restored=run.restored)

    def resume_fails(self, resumed):
        """The finished slices must be restored, not rerun, and pairwise
        and singles must equal the uninterrupted run's."""
        half = list(range(self.n_slices // 2))
        fails = ([] if resumed.restored == half else
                 [f"restored slices {resumed.restored}, expected {half}"])
        return fails + super().resume_fails(resumed)


WORKLOADS = {w.name: w for w in (PagesFull, CkptSlices)}
