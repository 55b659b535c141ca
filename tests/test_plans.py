"""Physical-plan guards: the performance-critical plan shapes are load-
bearing (each one was worth 2-100x in round-1 profiling), so regressions
must fail loudly, not silently slow down.

Each test asserts on ``explain`` output of the exact code path the engine
uses — not a lookalike query.
"""

import os

from pyspark.sql import functions as F

from milvus_cdc_spark import schemas as S
from milvus_cdc_spark.operators.apply import apply_batch, dedup_last_writer
from milvus_cdc_spark.plans.manifest import SnapshotTable
from milvus_cdc_spark.sources import generate_changelog


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dedup_uses_hash_aggregate_not_sort(spark):
    log = generate_changelog(spark, 2000, n_parts=4, n_convs=20, turns_per_conv=5)
    dml = log.filter(F.col("op").isin(*S.DML_OPS))
    plan = _plan(dedup_last_writer(dml, ["role", "text", "tool"]))
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan, (
        "dedup fell back to SortAggregate — the (ts,rank,lsn) ordering "
        "scalar must stay a fixed-width type (see apply._ord_col)"
    )


def test_dedup_recovery_join_is_shuffled_hash(spark):
    log = generate_changelog(spark, 2000, n_parts=4, n_convs=20, turns_per_conv=5)
    dml = log.filter(F.col("op").isin(*S.DML_OPS))
    plan = _plan(dedup_last_writer(dml, ["role", "text", "tool"]))
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan, (
        "winner-recovery join degraded to SMJ — wide event rows would be "
        "fully sorted every micro-batch"
    )


def test_changelog_filter_pushes_down_to_parquet(spark, tmp_path):
    from milvus_cdc_spark.sources import write_changelog

    path = str(tmp_path / "log")
    write_changelog(
        generate_changelog(spark, 2000, n_parts=4, n_convs=20, turns_per_conv=5),
        path,
        n_files=2,
    )
    df = spark.read.parquet(path).filter(F.col("op") == "INSERT").select("lsn", "op")
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "op" in plan.split("PushedFilters")[1][:80], (
        "op filter not pushed to the parquet scan"
    )
    # column pruning: scan schema must not include the text payload
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema, f"column pruning lost: {read_schema}"


def test_broadcast_join_on_small_dimension(spark):
    sf = "/root/testdata/sf0.001"
    import __spark_entry__ as E

    df = E.queries()["tpch_revenue_by_nation"](spark, sf)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, "nation dim should broadcast"


def test_bucket_pruning_scans_only_requested_buckets(spark, tmp_path):
    log = generate_changelog(spark, 4000, n_parts=4, n_convs=30, turns_per_conv=6)
    t = SnapshotTable(str(tmp_path / "t"))
    t.create(S.TRANSCRIPTS_BASE_COLUMNS, n_buckets=8, overwrite=True)
    apply_batch(spark, t, log, epoch=0)
    m = t.current()
    some = [int(next(iter(m.files)))]
    pruned = t.read(spark, buckets=some, logical=False)
    files = {os.path.basename(os.path.dirname(f)) for f in pruned.inputFiles()}
    assert files == {f"bucket={some[0]}"}, files


def test_emb_neardup_lsh_has_no_cartesian(spark):
    """The bucketed embedding near-dup is the 100 TB path: candidates come
    from an equi-join on (table, bucket) — any cartesian/nested-loop stage
    means the O(n²) baseline leaked back in."""
    from milvus_cdc_spark.operators.dedup import embedding_neardup_lsh_pairs

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(embedding_neardup_lsh_pairs(e, threshold_micro=400000))
    assert "CartesianProduct" not in plan, "bucketed near-dup went quadratic"
    assert "BroadcastNestedLoopJoin" not in plan, "bucketed near-dup went quadratic"


def test_ann_lsh_and_ivf_have_no_cartesian_on_corpus(spark):
    """LSH/IVF candidate generation must join on bucket/cell keys; only
    the tiny centroid cross (16 rows, broadcast) may nest."""
    from milvus_cdc_spark.operators.similarity import lsh_topk

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5)
    plan = _plan(lsh_topk(q, e, k=3, n_planes=3))
    assert "CartesianProduct" not in plan


def test_merge_join_output_is_write_partitioned(spark, tmp_path):
    """The merge full-outer join must reuse its children's (_bucket, _wsalt)
    pre-partitioning: exactly TWO Exchanges (one per side, REPARTITION_BY_NUM)
    and NONE above the join — the merged rows go straight to the bucket-
    partitioned write. A third Exchange means requireAllClusterKeysForCoPartition
    regressed or the join keys no longer cover the partitioning columns.
    Checked for both merges: anchor-only actions (``merge_actions``) and
    patch-composed actions (``merge_patched_actions``)."""
    from milvus_cdc_spark.operators.apply import (
        compose_patch_actions,
        merge_actions,
        merge_patched_actions,
    )

    log = generate_changelog(
        spark, 4000, n_parts=4, n_convs=30, turns_per_conv=6,
        evolve=False, drops=False, patch_pct=30,
    )
    t = SnapshotTable(str(tmp_path / "t"))
    t.create(S.TRANSCRIPTS_BASE_COLUMNS, n_buckets=4, overwrite=True)
    apply_batch(spark, t, log.filter(F.col("lsn") < 2000), epoch=0)
    m = t.current()
    payload = list(S.PAYLOAD_COLUMNS)
    carry = payload + ["extra"]
    dml = log.filter((F.col("lsn") >= 2000) & F.col("op").isin(*S.DML_OPS))
    assert dml.filter(F.col("op") == S.OP_PATCH).count() > 0
    target = t.read(spark, manifest=m, logical=False)
    anchors = dml.filter(F.col("op") != S.OP_PATCH)
    merges = {
        "merge_actions": merge_actions(
            target, dedup_last_writer(anchors, carry), carry, m.n_buckets,
            write_factor=2,
        ),
        "merge_patched_actions": merge_patched_actions(
            target, compose_patch_actions(dml, carry, payload), carry,
            m.n_buckets, write_factor=2,
        ),
    }
    for name, merged in merges.items():
        plan = _plan(merged)
        join_part, _, above = plan.partition("ShuffledHashJoin")
        assert join_part.count("Exchange") == 0, (
            f"{name}: Exchange above the merge join — merged rows re-shuffle "
            "before the write:\n" + join_part
        )
        assert "FullOuter" in above.splitlines()[0], name
        # the two child exchanges are the explicit (_bucket, _wsalt)
        # repartitions
        assert above.count("Exchange hashpartitioning(_bucket") == 2, plan


def test_session_has_aqe_and_arrow(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"


def test_mor_resolution_is_hash_aggregate_shuffled_hash(spark, tmp_path):
    # merge-on-read read-side resolution must keep the same plan shape as
    # the write-side dedup: fixed-width decimal HashAggregate (no
    # SortAggregate cliff) + SHUFFLE_HASH winner recovery (no SMJ sort of
    # wide stored rows)
    from datetime import datetime

    t = SnapshotTable(str(tmp_path / "transcripts"))
    t.create(S.TRANSCRIPTS_BASE_COLUMNS, n_buckets=2, write_mode="mor")
    for e in range(2):  # two delta files per bucket → resolution kicks in
        apply_batch(spark, t, spark.createDataFrame(
            [(e * 10 + 1, datetime(2024, 1, 1, 0, 0, e), 0, "INSERT",
              "c1", 1, "user", f"v{e}", None, None, None)],
            S.CHANGELOG_SCHEMA,
        ), e)
    assert any(len(v) > 1 for v in t.current().files.values())
    plan = _plan(t.read(spark))
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan, (
        "MOR resolution fell back to SortAggregate — stored_ord_col must "
        "stay a fixed-width decimal (plans/manifest.py)"
    )
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_emb_incremental_store_streams_map_side(spark):
    """Incremental embedding near-dup must cost ∝ |diff|: the vector
    store streams map-side through broadcast joins — retire anti-join
    and candidate bucket join both build on the diff side. No shuffle of
    the store (no SortMergeJoin/ShuffledHashJoin), no cartesian."""
    from milvus_cdc_spark.operators.dedup import (
        embedding_neardup_incremental,
        embedding_neardup_lsh_pairs,
        embedding_store,
    )

    dim = 8
    corpus0 = spark.createDataFrame(
        [(f"k{i}", [float(i % dim == j) for j in range(dim)]) for i in range(20)],
        "vec_id string, embedding array<float>",
    )
    changes = spark.createDataFrame(
        [("insert", "new", [1.0] + [0.0] * (dim - 1))],
        "change_type string, doc_key string, embedding array<float>",
    )
    kw = dict(threshold_micro=900000, n_planes=2, n_tables=2, dim=dim)
    # localCheckpoint cuts the bootstrap's lineage out of the plan — the
    # guard is about the per-round incremental joins only
    store0 = embedding_store(corpus0).localCheckpoint()
    pairs0 = embedding_neardup_lsh_pairs(corpus0, **kw).localCheckpoint()
    new_store, new_pairs = embedding_neardup_incremental(
        store0, pairs0, changes, key_col="doc_key", **kw
    )
    for df in (new_store, new_pairs):
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan, (
            "store side shuffled — the diff-sized side must stay the "
            "broadcast build side (operators/dedup.py)"
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan


def test_ivf_incremental_index_never_shuffles(spark):
    """A maintained-IVF advance must cost ∝ |diff|: the posting table
    anti-joins a broadcast retired set and fresh vectors assign against
    broadcast centroids — the index side is scanned, never shuffled."""
    from milvus_cdc_spark.operators.similarity import (
        ivf_centroids,
        ivf_index,
        ivf_index_incremental,
    )

    dim = 8
    corpus0 = spark.createDataFrame(
        [(f"k{i}", [float((i + j) % 3) for j in range(dim)]) for i in range(30)],
        "vec_id string, embedding array<float>",
    )
    cent = ivf_centroids(corpus0, n_centroids=3).localCheckpoint()
    idx0 = ivf_index(corpus0, cent).localCheckpoint()
    changes = spark.createDataFrame(
        [("update", "k3", [1.0] * dim), ("delete", "k5", None)],
        "change_type string, doc_key string, embedding array<float>",
    )
    plan = _plan(ivf_index_incremental(idx0, cent, changes))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, (
        "posting table shuffled — retire/assign must broadcast the "
        "diff-sized sides (operators/similarity.py)"
    )
    assert "CartesianProduct" not in plan


def test_decontaminate_broadcasts_bench_no_shuffle_of_corpus(spark):
    """Benchmark decontamination must cost one streaming corpus scan:
    the eval shingle set is the broadcast build side; the only shuffle
    is the per-doc hit aggregation. No SMJ, no cartesian."""
    from milvus_cdc_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{(i + 1) % 7} tok{(i + 2) % 7} tail{i}")
         for i in range(50)],
        "doc_id bigint, text string",
    )
    out = decontaminate(
        docs.filter(F.col("doc_id") % 5 != 0),
        docs.filter(F.col("doc_id") % 5 == 0),
        k=3,
    )
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, (
        "corpus side shuffled against the bench set — the eval shingles "
        "must stay the broadcast build side (operators/dedup.py)"
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_decontaminate_incremental_streams_map_side(spark):
    """An incremental decontamination round must cost ∝ |diff|: fresh
    docs join the broadcast bench set, the store anti-joins a broadcast
    retired set — the contamination store is scanned, never shuffled."""
    from milvus_cdc_spark.operators.dedup import (
        bench_shingle_store,
        decontaminate,
        decontaminate_incremental,
    )

    bench = spark.createDataFrame(
        [("b", "tok1 tok2 tok3")], "doc_key string, text string"
    )
    bench_sh = bench_shingle_store(bench, k=3, id_col="doc_key").localCheckpoint()
    train = spark.createDataFrame(
        [(f"d{i}", f"tok{i % 5} tok{(i + 1) % 5} tok{(i + 2) % 5}")
         for i in range(20)],
        "doc_key string, text string",
    )
    store = decontaminate(train, bench, k=3, id_col="doc_key").localCheckpoint()
    changes = spark.createDataFrame(
        [("update", "d1", "tok1 tok2 tok3 fresh")],
        "change_type string, doc_key string, text string",
    )
    plan = _plan(decontaminate_incremental(store, bench_sh, changes, k=3))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, (
        "store side shuffled — retired keys must broadcast "
        "(operators/dedup.py::decontaminate_incremental)"
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_passage_dedup_is_single_agg_no_join(spark):
    """Duplicate-passage detection must stay one explode + hash aggregates
    on the fingerprint — a join or cartesian anywhere means the op stopped
    being a linear scan (the property that makes it viable at 100 TB)."""
    import __spark_entry__ as E

    df = E.queries()["doc_passage_dedup"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    for bad in ("Join", "CartesianProduct"):
        assert bad not in plan, f"passage dedup grew a {bad}"
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan


def test_passage_incremental_store_streams_map_side(spark):
    """Incremental passage maintenance must cost ∝ |diff|: the retire
    anti-join builds on the (broadcast) diff side; the store is scanned,
    never shuffled."""
    from milvus_cdc_spark.operators.dedup import (
        passage_dedup_incremental,
        passage_store,
    )

    corpus = spark.createDataFrame(
        [(f"d{i}", f"w{i % 3} w{i % 2} w{i % 5} x{i % 2} x{i % 3} x{i % 2}")
         for i in range(20)],
        "doc_key string, text string",
    )
    store = passage_store(corpus, window=3).localCheckpoint()
    changes = spark.createDataFrame(
        [("update", "d1", "w9 w9 w9 x9 x9 x9")],
        "change_type string, doc_key string, text string",
    )
    plan = _plan(passage_dedup_incremental(store, changes, window=3))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "passage store shuffled on retire"
    assert "CartesianProduct" not in plan
