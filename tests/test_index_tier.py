"""The persistent indexes' spec store and compaction layout: probes,
appends and compactions read the spec the last build recorded, a
never-built index raises naming its build call, and a compaction after
appends leaves at most one file per non-empty bucket."""

import re
import shutil
import tempfile
import uuid
from collections import Counter

import pytest
from pyspark.sql import functions as F

from cbts_datalake_synnex_spark.engine import LakeEngine
from cbts_datalake_synnex_spark.operators import dedup, similarity


@pytest.fixture()
def eng(spark):
    root = tempfile.mkdtemp(prefix="idx_")
    db = f"idx_{uuid.uuid4().hex[:8]}"
    engine = LakeEngine(spark, root, database=db)
    try:
        yield engine
    finally:
        spark.catalog.setCurrentDatabase("default")
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        shutil.rmtree(root, ignore_errors=True)


def _docs(spark, ids):
    # doc 4n+1 repeats doc 4n's text: duplicates to block
    def text(i):
        if i % 4 < 2:
            return f"shared words about lake engines and their indexes number {i // 4}"
        return f"unique text {i} alpha {i * 3} beta {i * 7} gamma"

    return spark.createDataFrame([(i, text(i)) for i in ids], "doc_id bigint, text string")


def _vecs(spark, ids, dim=6):
    return spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(dim)]) for i in ids],
        "vec_id bigint, embedding array<double>",
    )


def _num_buckets(spark, qtable) -> int:
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {qtable}").collect()
    return int(next(r["data_type"] for r in rows if r["col_name"] == "Num Buckets"))


def _files_per_bucket(spark, qtable) -> Counter:
    names = spark.table(qtable).select("_metadata.file_name").distinct().collect()
    return Counter(re.search(r"_(\d{5})\.", r[0]).group(1) for r in names)


def test_dedup_probe_after_rebuild_uses_new_spec(spark, eng):
    corpus, b1 = _docs(spark, range(0, 24, 2)), _docs(spark, range(1, 24, 2))
    eng.build_dedup_index("nd", corpus, "doc_id", "text", shingle_size=3, n_buckets=4)
    eng.build_dedup_index("nd", corpus, "doc_id", "text", shingle_size=2, n_buckets=2)
    d1 = eng.admit_against_dedup_index("nd", b1, "doc_id", "text").localCheckpoint()
    want = dedup.admission_against_corpus(corpus, b1, "doc_id", "text", shingle_size=2)
    assert sorted(map(tuple, d1.collect())) == sorted(map(tuple, want.collect()))
    assert d1.filter(~F.col("admitted")).count() > 0
    # the append buckets like the rebuild (a 4-bucket append would fail)
    eng.update_dedup_index("nd", b1, d1, "doc_id", "text")
    for t in ("nd_entries", "nd_df"):
        assert _num_buckets(spark, eng.qualified(t)) == 2


def test_ann_probe_after_rebuild_uses_new_spec(spark, eng):
    vecs = _vecs(spark, range(60))
    q = vecs.filter(F.col("vec_id") % 10 == 0)
    eng.build_ann_index("v", vecs, "vec_id", "embedding", n_cells=4, n_buckets=4, storage="sq8")
    eng.build_ann_index(
        "v", vecs.filter(F.col("vec_id") < 40), "vec_id", "embedding", n_cells=4, n_buckets=2
    )
    # float storage and 2 buckets: an append or probe on the sq8 spec
    # would not resolve the postings columns
    eng.update_ann_index("v", vecs.filter(F.col("vec_id") >= 40), "vec_id", "embedding")
    got = eng.query_ann_index("v", q, "vec_id", "embedding", k=3, n_probe=4)
    want = similarity.cosine_topk(vecs, q, "vec_id", "embedding", k=3)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert _num_buckets(spark, eng.qualified("v_postings")) == 2


@pytest.mark.parametrize("call, build", [
    (lambda eng, df: eng.admit_against_dedup_index("none", df, "doc_id", "text"), "build_dedup_index"),
    (lambda eng, df: eng.update_dedup_index("none", df, df, "doc_id", "text"), "build_dedup_index"),
    (lambda eng, df: eng.compact_dedup_index("none"), "build_dedup_index"),
    (lambda eng, df: eng.query_ann_index("none", df, "vec_id", "embedding"), "build_ann_index"),
    (lambda eng, df: eng.update_ann_index("none", df, "vec_id", "embedding"), "build_ann_index"),
    (lambda eng, df: eng.compact_ann_index("none"), "build_ann_index"),
], ids=["admit", "update_dedup", "compact_dedup", "query_ann", "update_ann", "compact_ann"])
def test_never_built_index_raises_naming_its_build(spark, eng, call, build):
    with pytest.raises(ValueError, match=build):
        call(eng, _docs(spark, range(3)))


def test_index_of_the_other_kind_raises(spark, eng):
    eng.build_dedup_index("nd", _docs(spark, range(8)), "doc_id", "text", n_buckets=2)
    with pytest.raises(ValueError, match="build_ann_index"):
        eng.compact_ann_index("nd")


def test_compaction_after_appends_leaves_one_file_per_bucket(spark, eng):
    eng.build_dedup_index("nd", _docs(spark, range(0, 40, 2)), "doc_id", "text", n_buckets=4)
    eng.build_ann_index("v", _vecs(spark, range(40)), "vec_id", "embedding", n_cells=4, n_buckets=4)
    for lo in (1, 21):
        b = _docs(spark, range(lo, lo + 20, 2))
        eng.update_dedup_index(
            "nd", b, eng.admit_against_dedup_index("nd", b, "doc_id", "text"), "doc_id", "text"
        )
        eng.update_ann_index("v", _vecs(spark, range(40 + lo, 60 + lo)), "vec_id", "embedding")
    tables = [eng.qualified(t) for t in ("nd_df", "nd_entries", "v_postings")]
    assert all(max(_files_per_bucket(spark, t).values()) > 1 for t in tables)
    eng.compact_dedup_index("nd")
    eng.compact_ann_index("v")
    for t in tables:
        per_bucket = _files_per_bucket(spark, t)
        assert set(per_bucket.values()) == {1}, (t, per_bucket)
        assert _num_buckets(spark, t) == 4
