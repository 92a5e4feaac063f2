"""The session's codegen cache holds the pipeline's working set.

One Runner pass touches ~300 distinct generated classes. With Spark's
default 100-entry cache each class was evicted before its next use, so
every pass recompiled ~315 of them; sized by `get_spark`, a repeat pass
reuses them and compiles only a handful.
"""

from kgx.spark.run import Runner
from kgx.spark.session import CODEGEN_CACHE_MAX_ENTRIES


def test_repeat_pass_reuses_generated_code(spark, t1_dir, tmp_path):
    assert (spark.conf.get("spark.sql.codegen.cache.maxEntries")
            == str(CODEGEN_CACHE_MAX_ENTRIES))

    passes = []
    for k in range(2):
        r = Runner(spark, t1_dir, str(tmp_path / f"wh{k}"), f"cg{k}",
                   buckets=8)
        events = r.run()
        assert r.codegen is not None, "Spark codegen counters unreachable"
        hashes = {e["table"]: e["content_hash"] for e in events
                  if e.get("content_hash")}
        passes.append((r.codegen, hashes))
    (first, h1), (second, h2) = passes

    assert len(h1) == 11 and h1 == h2
    assert first["classes"] > 0 and first["compile_s"] > 0
    assert second["classes"] <= 0.05 * first["classes"], (first, second)
