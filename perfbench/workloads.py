"""The benchmark's workloads: each drives one user-facing entry point of
faang_pydantics_validation_spark on inputs generated from the seed.

A workload has:
    prepare(ctx)        generate inputs and ground truth (untimed, and not
                        part of set-up time)
    op(ctx)             one timed operation; returns what check() needs
    check(ctx, info)    problems with the operation's outputs (untimed)
    reset(ctx)          clear what the operation left on disk (untimed)
    layer(ctx, info, spans, execm)  workload-specific per-layer metrics
                        of one traced operation, given its stage metrics
and `items`, the input units (turns or documents) one operation handles,
and `warm_ops`, the untimed operations after which operation times stop
falling by much (measured on a 4-core host).
"""

from __future__ import annotations

import contextlib
import io
import os
import random
import shutil
from collections import Counter

import checks
import corpus
import stats as S
from tracing import Span, total_times, under

from faang_pydantics_validation_spark import datagen, serving
from faang_pydantics_validation_spark.jobs import dedup_cli, validate_cli
from faang_pydantics_validation_spark.plans import checkpoint as CP

DIMS = ("dim_roles", "dim_tools", "dim_conversations", "allowed_transitions")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


@contextlib.contextmanager
def cli_session(spark):
    """Run a CLI main() inside the benchmark's session: its closing
    spark.stop() is skipped and its console output discarded."""
    cls = type(spark)
    stop = cls.stop
    cls.stop = lambda self: None
    try:
        with contextlib.redirect_stdout(io.StringIO()), contextlib.redirect_stderr(io.StringIO()):
            yield
    finally:
        cls.stop = stop


class _Transcripts:
    """Shared input side of the transcript workloads: a datagen dataset
    written as the CLI reads it, plus its expected-violations manifest."""

    n_convs = 0

    def prepare(self, ctx) -> None:
        self.data = os.path.join(ctx.work, "data")
        datagen.write_dataset(
            ctx.spark, self.data, n_convs=self.n_convs, base_turns=20, hot_mult=25, seed=ctx.seed
        )
        spark = ctx.spark
        self.facts = spark.read.parquet(f"{self.data}/transcripts")
        self.dims = {d: spark.read.parquet(f"{self.data}/{d}") for d in DIMS}
        self.items = self.facts.count()
        self.want = checks.violation_keys(spark.read.parquet(f"{self.data}/expected_violations").collect())
        self.partitions = sorted(str(r[0]) for r in self.facts.select("ds").distinct().collect())
        self.out = os.path.join(ctx.work, "out")

    def check_outputs(self, violations, verdicts) -> list[str]:
        return checks.check_violations(checks.violation_keys(violations.collect()), self.want) + (
            checks.check_verdicts(verdicts.collect(), self.items)
        )


class BatchValidate(_Transcripts):
    """validate_cli without a checkpoint: schema gate, fused validation,
    violations and verdicts parquet, results JSON, report."""

    name = "batch_validate"
    n_convs = 3000
    warm_ops = 3
    # traced runs also time one kill-and-resume cycle on these inputs, so
    # the checkpoint layers are measured on a listed workload
    companion = "checkpoint_resume"

    def op(self, ctx) -> dict:
        with cli_session(ctx.spark):
            rc = validate_cli.main(
                ["--input", self.data, "--out", self.out, "--master", ctx.master, "--report"]
            )
        return {"rc": rc}

    def check(self, ctx, info) -> list[str]:
        if info["rc"] != 0:
            return [f"validate_cli exited {info['rc']}"]
        spark = ctx.spark
        probs = self.check_outputs(
            spark.read.parquet(f"{self.out}/violations"), spark.read.parquet(f"{self.out}/verdicts")
        )
        if not os.path.isfile(f"{self.out}/validation_results.json"):
            probs.append("validation_results.json not written")
        return probs

    def reset(self, ctx) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def layer(self, ctx, info, spans: list[Span], execm: dict) -> dict:
        return {"exec.sink.output_mb": dir_bytes(self.out) / 2**20}


class CheckpointResume(_Transcripts):
    """validate_cli --checkpoint after a kill: a run into an empty
    checkpoint dir killed after half the partitions (fail_after), then
    the CLI's resume. One operation is the pair."""

    name = "checkpoint_resume"
    n_convs = 1000
    warm_ops = 2

    def prepare(self, ctx) -> None:
        super().prepare(ctx)
        self.adopt(ctx, self)

    def adopt(self, ctx, inputs: _Transcripts) -> None:
        """Run on another transcript workload's prepared inputs."""
        for k in ("data", "facts", "dims", "items", "want", "partitions", "out"):
            setattr(self, k, getattr(inputs, k))
        self.ckpt = os.path.join(ctx.work, "ckpt")
        self.input_bytes = dir_bytes(f"{self.data}/transcripts")
        self.runs: list[dict] = []
        # the CLI prints only counts; keep each run's (ran, skipped) lists
        run = CP.run_with_checkpoint

        def recording(*args, **kwargs):
            status = run(*args, **kwargs)
            self.runs.append(status)
            return status

        ctx.patch(CP, "run_with_checkpoint", recording)

    def op(self, ctx) -> dict:
        self.runs.clear()
        kill_after = len(self.partitions) // 2
        CP.run_with_checkpoint(ctx.spark, self.facts, self.dims, self.ckpt, fail_after=kill_after)
        with cli_session(ctx.spark):
            rc = validate_cli.main(
                ["--input", self.data, "--checkpoint", self.ckpt, "--out", self.out, "--master", ctx.master]
            )
        return {"rc": rc, "runs": list(self.runs)}

    def check(self, ctx, info) -> list[str]:
        if info["rc"] != 0:
            return [f"validate_cli --checkpoint exited {info['rc']}"]
        killed, resumed = info["runs"]
        loaded = CP.load_results(ctx.spark, self.ckpt)
        return checks.check_resume(killed["ran"], resumed, self.partitions) + self.check_outputs(
            loaded["violations"], loaded["verdicts"]
        )

    def reset(self, ctx) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.rmtree(self.ckpt, ignore_errors=True)

    def layer(self, ctx, info, spans: list[Span], execm: dict) -> dict:
        walls = [st.wall_sec for st in CP.read_manifest(self.ckpt).values()]
        t = total_times(spans)
        cli = [s for s in spans if s.name == "jobs.validate_cli"]
        n_ran = sum(len(r["ran"]) for r in info["runs"])
        return {
            "checkpoint.partition_s": S.median(walls) if walls else 0.0,
            "checkpoint.stages_per_partition": execm["exec.stages"] / max(n_ran, 1),
            "checkpoint.resume_s": sum(s.end - s.start for s in cli),
            "checkpoint.pending_s": t.get("plans.checkpoint.pending", 0.0),
            "checkpoint.load_results_s": t.get("plans.checkpoint.load_results", 0.0),
            "checkpoint.write_amp": dir_bytes(self.ckpt) / max(self.input_bytes, 1),
            "exec.sink.output_mb": (dir_bytes(self.ckpt) + dir_bytes(self.out)) / 2**20,
        }


class ServeSmallBatches(_Transcripts):
    """Sequential serving.validate_json_batch requests, each carrying
    whole conversations (about 300 turns) as JSON-style records, against
    the dataset's dims read the way serve_http reads them."""

    name = "serve_small_batches"
    n_convs = 2000
    warm_ops = 3
    request_turns = 300

    def prepare(self, ctx) -> None:
        super().prepare(ctx)
        by_conv: dict[str, list] = {}
        for r in self.facts.orderBy("conv_id", "turn_idx").collect():
            by_conv.setdefault(r["conv_id"], []).append(
                {
                    "conv_id": r["conv_id"],
                    "turn_idx": r["turn_idx"],
                    "role": r["role"],
                    "text": r["text"],
                    "tool": r["tool"],
                    "ts": r["ts"].isoformat() if r["ts"] is not None else None,
                    "ds": r["ds"].isoformat(),
                }
            )
        want_by_conv: dict[str, list] = {}
        for k in self.want.elements():
            want_by_conv.setdefault(k[0], []).append(k)
        convs = sorted(c for c, rows in by_conv.items() if len(rows) <= self.request_turns)
        random.Random(ctx.seed).shuffle(convs)
        self.requests = []
        batch: list[str] = []
        n = 0
        for c in convs:
            batch.append(c)
            n += len(by_conv[c])
            if n >= self.request_turns:
                self.requests.append(
                    (
                        [rec for b in batch for rec in by_conv[b]],
                        Counter(k for b in batch for k in want_by_conv.get(b, [])),
                    )
                )
                batch, n = [], 0
        self.items = self.request_turns
        self.next = 0

    def op(self, ctx) -> dict:
        records, want = self.requests[self.next % len(self.requests)]
        self.next += 1
        return {"response": serving.validate_json_batch(ctx.spark, records, self.dims), "want": want}

    def check(self, ctx, info) -> list[str]:
        return checks.check_serving(info["response"], info["want"])

    def reset(self, ctx) -> None:
        pass

    def layer(self, ctx, info, spans: list[Span], execm: dict) -> dict:
        inner = under(spans, "serving")
        t = total_times(inner)
        return {
            "serving.plan_s": t.get("plans.build", 0.0),
            "serving.collect_s": t.get("spark.collect", 0.0),
            "serving.export_s": t.get("plans.verdicts.export", 0.0) + t.get("spark.collect.export", 0.0),
        }


class CurateCorpus:
    """dedup_cli.run_dedup_pipeline (exact dedup, MinHash-LSH near-dup,
    quality and language filter) over a seeded corpus with planted
    duplicates; `kept` is written as the CLI writes it, then cleanup()."""

    name = "curate_corpus"
    warm_ops = 2
    n_originals = 1500
    n_exact = 150
    n_near = 150
    n_short = 40

    def prepare(self, ctx) -> None:
        docs, self.truth = corpus.make_corpus(ctx.seed, self.n_originals, self.n_exact, self.n_near, self.n_short)
        self.path = os.path.join(ctx.work, "corpus")
        corpus.write_corpus(self.path, docs)
        self.items = len(docs)
        self.out = os.path.join(ctx.work, "kept")

    def op(self, ctx) -> dict:
        res = dedup_cli.run_dedup_pipeline(ctx.spark, ctx.spark.read.parquet(self.path))
        res["kept"].write.mode("overwrite").parquet(self.out)
        cached_mb = ctx.cached_mb() if ctx.trace else 0.0
        res["cleanup"]()
        return {"stages": res["stages"], "cached_mb": cached_mb}

    def check(self, ctx, info) -> list[str]:
        kept = [r[0] for r in ctx.spark.read.parquet(self.out).select("doc_id").collect()]
        return checks.check_curation(info["stages"], kept, self.truth)

    def reset(self, ctx) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def layer(self, ctx, info, spans: list[Span], execm: dict) -> dict:
        # run_dedup_pipeline ends each stage with a count: input, exact,
        # near, quality
        counts = [s.end - s.start for s in under(spans, "jobs.dedup_cli") if s.name == "spark.count"]
        counts += [0.0] * (4 - len(counts))
        st = info["stages"]
        return {
            "dedup.exact.run_s": counts[1],
            "dedup.near.run_s": counts[2],
            "dedup.quality.run_s": counts[3],
            "dedup.cached_mb": info["cached_mb"],
            "dedup.drop_ratio": 1.0 - st[-1]["kept"] / max(st[0]["in"], 1),
            "dedup.shuffle_write_mb": execm["exec.exchange.write_mb"],
            "exec.sink.output_mb": dir_bytes(self.out) / 2**20,
        }


WORKLOADS = {w.name: w for w in (BatchValidate, CheckpointResume, ServeSmallBatches, CurateCorpus)}
