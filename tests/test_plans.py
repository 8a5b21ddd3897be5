"""Physical-plan guardrails: pushdown, pruning, broadcast, shuffle counts.

These pin the scale properties the brief grades — a regression that
de-optimizes a plan fails here instead of surfacing at 100 TB.
"""

import pytest
from pyspark.sql import functions as F

from flink_infotheoretic_feature_selection_spark.datasets import FEATURE_NAMES, features_dense, load_table
from flink_infotheoretic_feature_selection_spark.operators.histogram import feature_dims, hist2d
from flink_infotheoretic_feature_selection_spark.plans import (
    broadcast_join_count,
    exchange_count,
    formatted_plan,
    pushed_filters,
    read_schema_columns,
    round_robin_exchange_count,
)
from flink_infotheoretic_feature_selection_spark.selector import InfoThSelector


def test_feature_matrix_prunes_scan(spark, sf_dir):
    # The 33-column matrix derives from 11 lineitem columns — the parquet
    # scan must read exactly those, not all 16.
    df = features_dense(spark, sf_dir)
    cols = set(read_schema_columns(df))
    assert "l_comment" not in cols and "l_shipmode" not in cols
    assert {"l_quantity", "l_extendedprice", "l_returnflag"} <= cols
    assert len(cols) <= 11


def test_projection_prunes_to_selected(spark, sf_dir):
    # After selection, transform must narrow the scan to the selected
    # features' source columns only — projection is scan-deep.
    df = features_dense(spark, sf_dir)
    model = InfoThSelector(n_to_select=3, criterion="mim").fit(df)
    out = model.transform(df)
    assert len(read_schema_columns(out)) < 11


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_quantity") > 30).select("l_orderkey")
    pf = pushed_filters(q)
    assert any("l_quantity" in f for f in pf), pf


def test_small_dim_join_broadcasts(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    q = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .count()
    )
    assert broadcast_join_count(q) >= 1, formatted_plan(q)


def test_hist2d_single_shuffle(spark, sf_dir):
    # The histogram pass must shuffle ONLY the partial count cells —
    # exactly one hash exchange (partial->final agg), never row data.
    # r13: features_dense spreads a parallelism-STARVED scan with one
    # round-robin exchange (identity at real scale) — allowed, anything
    # beyond it is an unexpected row shuffle.
    df = features_dense(spark, sf_dir)
    dims = feature_dims(df, FEATURE_NAMES + ["label"])
    h = hist2d(df, FEATURE_NAMES, "label", dims, dims["label"])
    spread = round_robin_exchange_count(h)
    assert spread <= 1, formatted_plan(h)
    assert exchange_count(h) - spread == 1, formatted_plan(h)


def test_transform_is_shuffle_free(spark, sf_dir):
    # No hash/range shuffle — the only exchange allowed is the r13
    # starved-scan spread riding in from features_dense (see above).
    df = features_dense(spark, sf_dir)
    model = InfoThSelector(n_to_select=3, criterion="mim").fit(df)
    out = model.transform(df)
    assert exchange_count(out) - round_robin_exchange_count(out) == 0


def test_sessionize_single_exchange(spark, sf_dir):
    # Window partitionBy(user_id) then groupBy(user_id, sess_seq):
    # hash(user_id) clusters the grouping keys too, so Catalyst must
    # plan ONE exchange for the whole sessionization.
    from flink_infotheoretic_feature_selection_spark.datasets import load_events
    from flink_infotheoretic_feature_selection_spark.operators.sessions import sessionize

    q = sessionize(load_events(spark, sf_dir))
    assert exchange_count(q) == 1, formatted_plan(q)


def test_corpus_clean_one_scan_one_exchange(spark, sf_dir):
    # The composed cleaner must not re-scan documents per component:
    # one parquet scan, one shuffle (the dedup keeper window).
    from flink_infotheoretic_feature_selection_spark.operators.text import corpus_clean

    q = corpus_clean(spark, sf_dir)
    plan = formatted_plan(q)
    # tree nodes render as "Scan parquet  (N)"; the details section
    # repeats the name without the id-suffix form
    import re

    assert len(re.findall(r"Scan parquet\s+\(\d+\)", plan)) == 1, plan
    assert exchange_count(q) == 1, plan


def test_hist_routes_agree(spark, sf_dir):
    # The codegen (posexplode) hist2d/hist3d cells must equal the nonzero
    # cells of np.bincount tables built from the collected input — an
    # oracle that shares no code with the Spark aggregate.
    import numpy as np

    from flink_infotheoretic_feature_selection_spark.operators.histogram import hist3d

    df = features_dense(spark, sf_dir)
    dims = feature_dims(df, FEATURE_NAMES + ["label"])
    feats = FEATURE_NAMES[:6]
    pdf = df.select(*feats, "f7", "label").toPandas()
    col = {c: pdf[c].to_numpy(np.int64) for c in pdf.columns}

    def bincount_cells(key_cols):
        shape = [dims[c] for c in key_cols]
        cells = set()
        for fi, c in enumerate(feats):
            keys = [col[c]] + [col[k] for k in key_cols]
            t = np.bincount(
                np.ravel_multi_index(keys, [dims[c]] + shape),
                minlength=int(np.prod([dims[c]] + shape)),
            ).reshape([dims[c]] + shape)
            cells |= {(fi, *map(int, ix), int(t[ix])) for ix in zip(*np.nonzero(t))}
        return cells

    a = {tuple(r) for r in hist2d(df, feats, "label", dims, dims["label"]).collect()}
    assert a == bincount_cells(["label"])

    a3 = {
        tuple(r)
        for r in hist3d(df, feats, "f7", "label", dims, dims["f7"], dims["label"]).collect()
    }
    assert a3 == bincount_cells(["f7", "label"])


def test_cosine_topk_collects_only_query_side(spark, sf_dir):
    # The exact top-k path must never collect corpus-sized state to the
    # driver: the only collect is the query side, and its vec_id filter
    # must push into the parquet scan.
    from flink_infotheoretic_feature_selection_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(emb.vec_id < 200).select("vec_id", "embedding")
    pf = pushed_filters(q)
    assert any("vec_id" in f for f in pf), pf

    # The distributed side of the plan is a corpus scan -> mapInPandas ->
    # single window rank; no corpus-wide collect node exists in the plan.
    out = cosine_topk(spark, sf_dir, k=3, query_limit=20)
    plan = formatted_plan(out)
    assert "MapInPandas" in plan, plan
    assert "Window" in plan, plan
    assert "CollectLimit" not in plan, plan


def test_cosine_topk_matches_bruteforce(spark, sf_dir):
    # Block-partitioned merge must equal the single-matrix brute force.
    import numpy as np

    from flink_infotheoretic_feature_selection_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pdf = emb.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)

    k, limit = 4, 25
    expected = set()
    for qi in np.where(ids < limit)[0]:
        s = np.round(mat[qi] @ mat.T, 5)
        s[ids == ids[qi]] = -np.inf
        order = np.lexsort((ids, -s))[:k]
        for rank, j in enumerate(order, start=1):
            expected.add((int(ids[qi]), int(ids[j]), float(s[j]), rank))

    # shrink the Arrow batch size so the corpus streams as MANY blocks —
    # the per-batch truncation + global window merge is genuinely
    # exercised (at sf0.001 the default batch would hold all 500 rows)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        got = {
            tuple(r) for r in cosine_topk(spark, sf_dir, k=k, query_limit=limit).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert got == expected


def test_shingle_arrays_shuffle_free(spark, sf_dir):
    # The per-doc distinct shingle set must be a narrow expression chain
    # (the round-3 rewrite removed an explode -> DISTINCT -> collect_list
    # double shuffle); a regression re-introducing an exchange fails here.
    from flink_infotheoretic_feature_selection_spark.operators.dedup import doc_shingle_arrays

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert exchange_count(doc_shingle_arrays(docs)) == 0


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    # The 100 TB contract: the training corpus is never shuffled on text;
    # every join is broadcast (eval shingles + the df-cap semi-join).
    from flink_infotheoretic_feature_selection_spark.operators.dedup import decontaminate_query

    q = decontaminate_query(spark, sf_dir)
    plan = formatted_plan(q)
    assert broadcast_join_count(q) >= 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_corpus_rollup_is_one_agg_pass(spark, sf_dir):
    # GROUPING SETS must plan as Expand + partial/final hash agg over ONE
    # scan — one exchange carrying only group cells.
    from flink_infotheoretic_feature_selection_spark.operators.text import corpus_rollup

    q = corpus_rollup(spark, sf_dir)
    plan = formatted_plan(q)
    assert "Expand" in plan, plan
    assert exchange_count(q) == 1, plan


def test_pack_sequences_single_shuffle(spark, sf_dir):
    # One hash exchange on the shard key; the window cumsum reuses it.
    from flink_infotheoretic_feature_selection_spark.operators.text import pack_sequences

    q = pack_sequences(spark, sf_dir)
    assert exchange_count(q) == 1, formatted_plan(q)


def test_vocab_topk_uses_topk_not_global_sort(spark, sf_dir):
    # final top-k must be TakeOrderedAndProject, never a full Sort of
    # the vocabulary
    from flink_infotheoretic_feature_selection_spark.operators.text import vocab_topk

    plan = formatted_plan(vocab_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_chunk_documents_shuffle_free(spark, sf_dir):
    from flink_infotheoretic_feature_selection_spark.operators.text import chunk_documents

    assert exchange_count(chunk_documents(spark, sf_dir)) == 0


def test_equal_freq_gate_has_no_global_sort(spark, sf_dir):
    # The bucketize gate must run through the discretizer (sampled fit +
    # JVM Bucketizer transform) — not a global-sort rank() stand-in.
    import __spark_entry__ as entry_mod

    out = entry_mod.queries()["equal_freq_bucket"](spark, sf_dir)
    plan = formatted_plan(out)
    # a rank()-style stand-in would show a Window over one partition;
    # the discretizer path is a narrow bucketize + hash aggregate
    assert "Window" not in plan, plan
    assert "bucket" in plan.lower()


def test_embedding_quantize_is_narrow(spark, sf_dir):
    # int8 quantization is a per-row projection — it must fuse into the
    # scan with ZERO exchanges (at 100 TB this op is scan-speed or wrong).
    from flink_infotheoretic_feature_selection_spark.operators.similarity import (
        embedding_quantize,
    )

    q = embedding_quantize(spark, sf_dir)
    assert exchange_count(q) == 0, formatted_plan(q)


def test_substring_profile_broadcasts_dup_grams(spark, sf_dir):
    # The dup-gram set (count(distinct doc)>=2 survivors) must come back
    # to the window side as a broadcast, never by re-shuffling the whole
    # window table a second time: shuffles carry gram cells only.  The
    # public query checkpoints its result (cache lifecycle), which hides
    # the join from explain — inspect the tail plan over the same views
    # the engine path builds.
    from pyspark.sql import functions as F

    from flink_infotheoretic_feature_selection_spark.operators.dedup import (
        _profile_tail,
        _windows_arrow,
    )

    w = _windows_arrow(spark, sf_dir, L=30, mod=7)
    w.createOrReplaceTempView("__substr_w")
    (
        w.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter("nd >= 2")
        .select("gram")
        .createOrReplaceTempView("__substr_g")
    )
    try:
        q = spark.sql(_profile_tail("__substr_w", "__substr_g"))
        plan = formatted_plan(q)
        assert broadcast_join_count(q) >= 1, plan
        assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    finally:
        spark.catalog.dropTempView("__substr_w")
        spark.catalog.dropTempView("__substr_g")


def test_neardup_probe_chunk_join_is_signature_level(spark, sf_dir):
    # The 100x-corpus lesson (BASELINE round-5 continuation): the chunk
    # key space is 8 x 256 = 2048 values, so a chunk-band join keyed at
    # the DOC level goes quadratic in corpus size.  The join must run
    # over DISTINCT signatures (keys/condition carry signatures only,
    # never doc ids) with docs re-attached by a later plain equi-join.
    # stream_neardup_candidates is pure DataFrame ops, so its batch plan
    # pins the shared design for the streaming path too.
    import re

    from flink_infotheoretic_feature_selection_spark.operators.dedup import simhash64
    from flink_infotheoretic_feature_selection_spark.streaming import (
        stream_neardup_candidates,
    )

    docs = load_table(spark, sf_dir, "documents").where("doc_id % 10 = 0")
    corpus = simhash64(spark, sf_dir).where("doc_id % 10 != 0")
    plan = formatted_plan(stream_neardup_candidates(docs, corpus))
    # the distinct-signature aggregate must exist under the chunk join
    assert "HashAggregate" in plan, plan
    blocks = re.split(r"\n\(\d+\) ", plan)
    chunk_joins = [
        b
        for b in blocks
        if b.split("\n", 1)[0].endswith("Join") or "Join" in b.split("\n", 1)[0]
    ]
    chunk_joins = [b for b in chunk_joins if "chunk_idx" in b]
    assert chunk_joins, plan
    for b in chunk_joins:
        assert "doc_id" not in b, b


def test_source_token_cap_single_exchange(spark, sf_dir):
    # One hash exchange on source; the window cumsum + filter reuse it.
    from flink_infotheoretic_feature_selection_spark.operators.text import source_token_cap

    q = source_token_cap(spark, sf_dir)
    assert exchange_count(q) == 1, formatted_plan(q)


def test_epoch_shuffle_no_global_sort(spark, sf_dir):
    # The anti-global-sort contract: one hash exchange on the shard key,
    # never a range-partitioned full sort of the corpus.
    from flink_infotheoretic_feature_selection_spark.operators.text import epoch_shuffle

    q = epoch_shuffle(spark, sf_dir)
    plan = formatted_plan(q)
    assert exchange_count(q) == 1, plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_incremental_vs_index_corpus_side_no_exchange(spark, sf_dir, tmp_path):
    # The GATED bucketed-corpus operator, not just a synthetic bucketed
    # join: simhash64_incremental_vs_index's corpus-side min aggregate
    # must read the persisted bucketed index with ZERO exchange (the
    # catalog carries HashPartitioning(simhash64), which satisfies the
    # groupBy).  Pin it two ways: (1) the corpus aggregate subplan alone
    # has no Exchange; (2) the full mining query's plan has exactly one
    # fewer Exchange than the same query over an UNBUCKETED copy of the
    # index, and both produce identical rows (also identical to the
    # self-computing variant — the value equivalence).
    from flink_infotheoretic_feature_selection_spark.operators.dedup import (
        build_simhash64_index,
        simhash64_incremental,
        simhash64_incremental_vs_index,
    )

    try:
        build_simhash64_index(
            spark, sf_dir, table="t_sim_idx", path=str(tmp_path / "idx")
        )
        agg = spark.table("t_sim_idx").groupBy("simhash64").agg(F.min("doc_id"))
        assert exchange_count(agg) == 0, formatted_plan(agg)

        out_idx = simhash64_incremental_vs_index(
            spark, sf_dir, "t_sim_idx", checkpoint=False
        )
        # unbucketed twin of the index
        spark.table("t_sim_idx").write.mode("overwrite").parquet(
            str(tmp_path / "flat")
        )
        spark.read.parquet(str(tmp_path / "flat")).createOrReplaceTempView(
            "t_sim_flat"
        )
        out_flat = simhash64_incremental_vs_index(
            spark, sf_dir, "t_sim_flat", checkpoint=False
        )
        n_idx = exchange_count(out_idx)
        n_flat = exchange_count(out_flat)
        assert n_idx == n_flat - 1, (
            f"bucketed index saved {n_flat - n_idx} exchanges (want exactly "
            f"the corpus-side one)\n{formatted_plan(out_idx)}"
        )
        rows_idx = sorted(tuple(r) for r in out_idx.collect())
        assert rows_idx == sorted(tuple(r) for r in out_flat.collect())
        assert rows_idx == sorted(
            tuple(r) for r in simhash64_incremental(spark, sf_dir).collect()
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS t_sim_idx")


def test_bucketed_join_skips_both_exchanges(spark, sf_dir, tmp_path):
    # Two tables bucketed on the same key with the same bucket count
    # must sort-merge-join with ZERO Exchange nodes — the catalog knows
    # the on-disk partitioning, so the 100-TB corpus shuffle is paid
    # once at write time, not per consumer job.
    from flink_infotheoretic_feature_selection_spark.operators.sinks import write_bucketed

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    write_bucketed(
        docs, "bkt_docs", "doc_id", n_buckets=4, path=str(tmp_path / "bkt_docs")
    )
    write_bucketed(
        docs.select("doc_id", "source"),
        "bkt_meta",
        "doc_id",
        n_buckets=4,
        path=str(tmp_path / "bkt_meta"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q = spark.table("bkt_docs").join(spark.table("bkt_meta"), "doc_id")
        plan = formatted_plan(q)
        assert exchange_count(q) == 0, plan
        assert q.count() == docs.count()
        # and a groupBy on the bucket key reuses the layout too
        agg = spark.table("bkt_docs").groupBy("doc_id").count()
        assert exchange_count(agg) == 0, formatted_plan(agg)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_docs")
        spark.sql("DROP TABLE IF EXISTS bkt_meta")


def test_stream_neardup_over_bucketed_index(spark, sf_dir, tmp_path):
    # stream_neardup_candidates takes the corpus signature table as a
    # plain DataFrame, so the persisted BUCKETED index slots straight in
    # — and the catalog's HashPartitioning(simhash64) must remove the
    # corpus-side exchanges of both derived frames (the signature
    # DISTINCT and the doc-id expansion join) that an unbucketed corpus
    # pays per micro-batch.  The op is composition-only (no streaming
    # API touched), so pin the plan with a BATCH docs side: same
    # DataFrames, inspectable plan, identical rows both ways.
    from flink_infotheoretic_feature_selection_spark.operators.dedup import (
        build_simhash64_index,
    )
    from flink_infotheoretic_feature_selection_spark.streaming import (
        stream_neardup_candidates,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where("doc_id % 10 = 0")
        .select("doc_id", "text")
    )
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # at test scale the tiny corpus auto-broadcasts, which hides the
        # expansion join's corpus-side exchange in BOTH variants; force
        # the at-scale SMJ shape so both savings are observable
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        build_simhash64_index(
            spark, sf_dir, table="t_snd_idx", path=str(tmp_path / "idx")
        )
        out_idx = stream_neardup_candidates(docs, spark.table("t_snd_idx"))
        spark.table("t_snd_idx").write.mode("overwrite").parquet(
            str(tmp_path / "flat")
        )
        out_flat = stream_neardup_candidates(
            docs, spark.read.parquet(str(tmp_path / "flat"))
        )
        n_idx, n_flat = exchange_count(out_idx), exchange_count(out_flat)
        assert n_idx == n_flat - 2, (
            f"bucketed index saved {n_flat - n_idx} exchanges (want the "
            f"DISTINCT's and the expansion join's)\n{formatted_plan(out_idx)}"
        )
        rows = sorted(tuple(r) for r in out_idx.collect())
        assert rows == sorted(tuple(r) for r in out_flat.collect())
        assert rows  # the %10 batch has near-dups in this corpus
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS t_snd_idx")
