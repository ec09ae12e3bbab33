"""Round-14 registrations (udf_token_spans, mm_video_frame_plan) —
pure-Python replays, real-cluster evidence, the UDTF TABLE-argument
capability probe, and the hypothesis span-walk lock.

Oracle equality for both names now runs through the standard contract
suite (tests/test_oracle_queries.py); plan locks live in
tests/test_plans.py (the r12 registration pattern)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from decision_tree_analytics_spark.operators.multimodal import (
    VIDEO_HEADER_BYTES,
    mm_video_frame_plan,
)
from decision_tree_analytics_spark.operators.udf_inventory import (
    UDTF_DOC_MOD,
    UDTF_DOC_REM,
    udf_token_spans,
)


def test_token_spans_matches_python_replay(spark, sf_dir):
    """Walk every sliced doc's text in pure Python and compare the
    full span table — offsets, lengths, per-doc tiling."""
    from decision_tree_analytics_spark.sources.tables import load_table

    got = (
        udf_token_spans(spark, sf_dir)
        .toPandas()
        .sort_values(["doc_id", "seg_idx"])
        .reset_index(drop=True)
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") % UDTF_DOC_MOD == UDTF_DOC_REM)
            & F.col("text").isNotNull()
        )
        .select("doc_id", "text")
        .toPandas()
    )
    assert len(docs) > 0
    want = []
    for _, r in docs.iterrows():
        off = 0
        for i, part in enumerate(r.text.split(' ')):
            want.append((r.doc_id, i, off, len(part)))
            off += len(part) + 1
        # Segments + separators tile the text exactly.
        assert off - 1 == len(r.text)
    want.sort()
    # Non-vacuous one-to-many: the fixture must actually fan out
    # (many spans per doc), or the UDTF degenerates into a UDF.
    assert len(want) > 5 * len(docs)
    assert len(got) == len(want)
    assert (
        list(map(tuple, got.itertuples(index=False, name=None))) == want
    )


def test_video_frame_plan_matches_replay(spark, sf_dir):
    """Pure-Python GOP/byte-offset replay over every clip: the plan's
    closed-form offsets must equal a frame-by-frame walk of the
    modeled stream (I-frame at each GOP head, P-frames between)."""
    pdf = (
        mm_video_frame_plan(spark, sf_dir)
        .toPandas()
        .sort_values(["doc_id", "k"])
    )
    assert len(pdf) > 0
    for doc_id, g in pdf.groupby("doc_id"):
        fps = 24 + (doc_id % 3) * 3
        dur = doc_id % 19 + 2
        gop = 12 + (doc_id % 2) * 3
        pixels = 1280 * 720 if doc_id % 2 == 0 else 640 * 360
        n_frames = fps * dur
        i_b, p_b = pixels // 2, pixels // 10
        # Walk the stream frame by frame, recording each GOP head.
        offsets, off = [], VIDEO_HEADER_BYTES
        for idx in range(n_frames):
            if idx % gop == 0:
                offsets.append(off)
            off += i_b if idx % gop == 0 else p_b
        assert list(g.byte_offset) == offsets
        assert list(g.frame_idx) == [k * gop for k in range(len(offsets))]
        assert list(g.ts_us) == [
            k * gop * 1_000_000 // fps for k in range(len(offsets))
        ]
        assert g.gop_len.sum() == n_frames  # GOPs tile the clip exactly
        assert list(g.is_last)[-1] == 1 and sum(g.is_last) == 1


_CLUSTER_DRIVER = r"""
import os, sys
sys.path.insert(0, {repo!r})
sys.path.insert(0, {repo_tests!r})
os.environ["PYSPARK_PYTHON"] = sys.executable
os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
os.environ["PYTHONPATH"] = {repo!r} + os.pathsep + os.environ.get("PYTHONPATH", "")
from pyspark.sql import SparkSession
from tests.oracle_harness import compare, duckdb_connection
from decision_tree_analytics_spark.operators import all_oracles, all_queries

NAMES = ["udf_token_spans", "mm_video_frame_plan"]
QS = all_queries()
OS = all_oracles()

spark = (
    SparkSession.builder.master("local-cluster[2,4,2048]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.executorEnv.PYTHONPATH", {repo!r})
    .getOrCreate()
)
con = duckdb_connection({sf!r})
for name in NAMES:
    compare(QS[name](spark, {sf!r}), con, OS[name], name)
    print("CLUSTER-MATCH", name, flush=True)
spark.stop()
print("ALL-OK")
"""


def test_r14_registrants_match_on_real_cluster(sf_dir):
    """Both r14 registrants oracle-checked on a REAL 2-JVM
    local-cluster: the UDTF class must cloudpickle to REMOTE executor
    Arrow workers with each executor's eval stream covering exactly
    its partitions, and the video plan's integer explode splits
    across executors."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = _CLUSTER_DRIVER.format(repo=repo, repo_tests=repo, sf=sf_dir)
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0 and "ALL-OK" in proc.stdout, (
        f"stdout tail: {proc.stdout[-3000:]}\nstderr tail: {proc.stderr[-3000:]}"
    )
    for name in ("udf_token_spans", "mm_video_frame_plan"):
        assert f"CLUSTER-MATCH {name}" in proc.stdout


def test_udtf_table_argument_partition_by_works(spark, sf_dir):
    """Container-capability probe for the OTHER half of the UDTF
    surface: TABLE(...) PARTITION BY ... ORDER BY arguments with a
    stateful eval/terminate protocol (the plan shows the partitioning
    exchange + sort feeding ArrowEvalPythonUDTF).  The engine's
    contract ops keep using applyInPandas for per-group Python — the
    pandas-batch lane is strictly faster for aggregation — so this is
    documentation that the surface WORKS here (like the avro/protobuf
    probes document what doesn't), verified by exact per-group
    integers against the JVM groupBy."""
    import pyspark.sql.functions as F
    from pyspark.sql.functions import udtf

    from decision_tree_analytics_spark.sources.tables import load_table

    @udtf(returnType="source: string, n: bigint, chars: bigint", useArrow=True)
    class _PerSource:
        def __init__(self):
            self.n = 0
            self.chars = 0
            self.src = None

        def eval(self, row):
            self.src = row["source"]
            self.n += 1
            self.chars += int(row["n_chars"])

        def terminate(self):
            if self.src is not None:
                yield (self.src, self.n, self.chars)

    spark.udtf.register("dta_per_source_probe", _PerSource)
    load_table(spark, sf_dir, "documents").select(
        "source", "n_chars"
    ).createOrReplaceTempView("dta_udtf_docs")
    out = spark.sql(
        "SELECT * FROM dta_per_source_probe("
        "TABLE(dta_udtf_docs) PARTITION BY source)"
    )
    from decision_tree_analytics_spark.plans.inspect import simple_plan

    plan = simple_plan(out)
    assert "ArrowEvalPythonUDTF" in plan
    assert "BatchEvalPythonUDTF" not in plan
    assert "Exchange hashpartitioning" in plan  # the PARTITION BY
    got = {r.source: (r.n, r.chars) for r in out.collect()}
    want = {
        r.source: (r.n, r.chars)
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("n_chars").cast("long").alias("chars"),
        )
        .collect()
    }
    assert got == want and len(got) > 1


def test_token_span_formula_property():
    """Hypothesis lock on the span walk both the UDTF and the oracle
    implement: for ANY token list (incl. empty tokens — consecutive /
    leading / trailing separators), the emitted (idx, start, len)
    spans must tile the joined text exactly and reconstruct every
    token by slicing — an independent spec, not a re-run of the same
    loop."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    token = st.text(
        alphabet=st.characters(blacklist_characters=" "), max_size=8
    )

    @settings(max_examples=300, deadline=None)
    @given(st.lists(token, min_size=1, max_size=20))
    def check(tokens):
        text = " ".join(tokens)
        # The walk under test (UDTF eval / oracle window-sum form).
        spans, off = [], 0
        for i, part in enumerate(text.split(" ")):
            spans.append((i, off, len(part)))
            off += len(part) + 1
        assert len(spans) == len(tokens)
        # Independent spec: slice-reconstruction + exact tiling.
        for (i, start, ln), tok in zip(spans, tokens):
            assert text[start : start + ln] == tok
            if start + ln < len(text):
                assert text[start + ln] == " "  # separator follows
        assert spans[-1][1] + spans[-1][2] == len(text)

    check()
