"""The benchmark's output checks, on a tiny generated dataset and corpus:
the program's real outputs pass, and deliberately wrong outputs fail
and count as failed operations."""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import corpus  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from faang_pydantics_validation_spark.session import get_spark

    s = get_spark(master="local[2]", app_name="perfbench-tests", shuffle_partitions=2)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def validated(spark):
    from faang_pydantics_validation_spark.datagen import gen_transcripts
    from faang_pydantics_validation_spark.plans.fused import validate_transcripts_fused

    tables = gen_transcripts(spark, n_convs=200, base_turns=20, hot_mult=25, seed=42)
    res = validate_transcripts_fused(tables["transcripts"], tables)
    return {
        "want": checks.violation_keys(tables["expected_violations"].collect()),
        "got": [r.asDict() for r in res.violations.collect()],
        "verdicts": [r.asDict() for r in res.verdicts.collect()],
        "n_turns": tables["transcripts"].count(),
    }


def test_real_outputs_pass(validated):
    assert validated["want"], "the generator planted no violations"
    assert checks.check_violations(checks.violation_keys(validated["got"]), validated["want"]) == []
    assert checks.check_verdicts(validated["verdicts"], validated["n_turns"]) == []


def test_missing_and_extra_violation_rows_fail(validated):
    got = validated["got"]
    missing = checks.check_violations(checks.violation_keys(got[1:]), validated["want"])
    assert len(missing) == 1 and "missing" in missing[0]
    extra = checks.check_violations(checks.violation_keys(got + got[:1]), validated["want"])
    assert len(extra) == 1 and "unexpected" in extra[0]


def test_wrong_verdicts_fail(validated):
    rows = [dict(r) for r in validated["verdicts"]]
    first = min(rows, key=lambda r: str(r["ds"]))
    first["verdict"] = "fail"
    assert checks.check_verdicts(rows, validated["n_turns"])
    assert checks.check_verdicts(validated["verdicts"], validated["n_turns"] + 1)


def test_serving_check():
    want = checks.violation_keys([{"conv_id": "c", "turn_idx": 1, "rule_id": "R", "severity": "error",
                                   "scope": "turn", "observed": "x"}])
    ok = {"status": "success", "violations": [{"conv_id": "c", "turn_idx": 1, "rule_id": "R",
                                               "severity": "error", "scope": "turn", "observed": "x",
                                               "ds": "2026-01-01"}]}
    assert checks.check_serving(ok, want) == []
    assert checks.check_serving({**ok, "violations": []}, want)
    assert checks.check_serving({"status": "error", "message": "boom"}, want)


def test_resume_check():
    parts = ["d0", "d1", "d2", "d3"]
    assert checks.check_resume(["d0", "d1"], {"ran": ["d2", "d3"], "skipped": ["d0", "d1"]}, parts) == []
    assert checks.check_resume(["d0", "d1"], {"ran": ["d1", "d2", "d3"], "skipped": ["d0"]}, parts)


def test_curation_check_on_planted_corpus():
    docs, truth = corpus.make_corpus(seed=5, n_originals=40, n_exact=5, n_near=5, n_short=3)
    assert truth["n_docs"] == len(docs) == 53
    n_exact_kept = truth["n_docs"] - 5
    stages = [{"stage": "exact_dedup", "in": 53, "kept": n_exact_kept}]
    assert checks.check_curation(stages, truth["originals"], truth) == []
    assert checks.check_curation(stages, truth["originals"] + truth["near_copies"][:1], truth)
    assert checks.check_curation(stages, truth["originals"][1:], truth)
    wrong_exact = [{"stage": "exact_dedup", "in": 53, "kept": n_exact_kept + 1}]
    assert checks.check_curation(wrong_exact, truth["originals"], truth)


def test_wrong_output_counts_as_failed_operation():
    import run

    class Wrong:
        name = "wrong"

        def op(self, ctx):
            return {}

        def check(self, ctx, info):
            return ["deliberately wrong"]

        def reset(self, ctx):
            pass

    class Raises(Wrong):
        def op(self, ctx):
            raise RuntimeError("boom")

    class FakeCtx:
        spark = None

        def persisted_ids(self):
            return set()

    for wl in (Wrong(), Raises()):
        sample = run.attempt(FakeCtx(), wl, "op000", None, 1)
        assert sample.problems and sample.seconds >= 0
