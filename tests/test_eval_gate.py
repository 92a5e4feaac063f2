"""scripts/eval_report.py fails the run when the Spark tagger diverges
from the sequential oracle tagger on any tier."""

import importlib.util
import os
from types import SimpleNamespace

import pytest

SCRIPT = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts", "eval_report.py")


def _load(monkeypatch, tmp_path, diverged: dict[str, int]):
    spec = importlib.util.spec_from_file_location("eval_report", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    def evaluate(spark, tier, artifact="tagger_v1.npz"):
        return ({"tier": tier, "artifact": artifact,
                 "tagger_diverged_sentences": diverged.get(tier, 0)},
                [f"## {tier}"])

    import kgx.spark.session

    monkeypatch.setattr(kgx.spark.session, "get_spark",
                        lambda *a, **k: SimpleNamespace(stop=lambda: None))
    monkeypatch.setattr(mod, "evaluate", evaluate)
    monkeypatch.setattr(mod, "REPO", str(tmp_path))  # EVAL.md lands here
    return mod


def test_diverged_tier_exits_nonzero(monkeypatch, tmp_path):
    mod = _load(monkeypatch, tmp_path, {"t2_zh": 3})
    with pytest.raises(SystemExit) as exc:
        mod.main(["--tiers", "t2,t2_zh", "--v2-tiers", ""])
    assert exc.value.code != 0 and "t2_zh/tagger_v1.npz" in str(
        exc.value.code)
    assert (tmp_path / "EVAL.md").exists()  # the report is still written


def test_clean_eval_exits_zero(monkeypatch, tmp_path):
    mod = _load(monkeypatch, tmp_path, {})
    mod.main(["--tiers", "t2,t2_zh", "--v2-tiers", "t2"])
    assert (tmp_path / "EVAL.md").exists()
