"""sf1 scale probe for the heaviest registry plans: measure each op at
sf0.1 and at a synthetic sf1 (10x rows) and report the wall-time ratio.
Linear-ish growth (ratio ~= 10) pins the orientation bound / LSH bucket
bound holding at scale; quadratic growth would read ~100. For
output-bound pair finders the honest linearity metric is throughput per
RESULT row (the result set itself may grow superlinearly with corpus
density) — both are reported.

The sf1 inputs derive from sf0.1 by replication that PRESERVES the
per-replica structure while keeping replicas disjoint:

- lineitem: 10 copies with l_orderkey/l_partkey offset per replica ->
  10 disjoint copies of the co-order part graph (|E|, triangles, and
  wedge work all scale exactly 10x, so the measured ratio isolates the
  engine's scaling, not a change in graph shape);
- embeddings: 10 copies with vec_id offset and the 64-dim vector
  cyclically ROTATED by replica index — rotation preserves intra-replica
  cosine geometry exactly (same near-dup structure per replica) while
  cross-replica cosines fall back to the background distribution, so
  true pairs scale ~10x at production tau (at the benchmark tau=0.4 the
  64-dim background tail itself leaks cross-replica pairs — the r12
  adjudication; the sparse-tau probe below is the clean configuration).

Replication offsets are derived from the INPUT's actual key maxima
(round-12 ADVICE: hard-coded spans silently alias replica keys if the
probe is pointed at a larger base dataset).

Writes nothing under /root/testdata; the derived tables land in /tmp.

Usage: python tools/scaleprobe.py [op ...]  -> one JSON line.
With no args runs every op; with args runs only the named ops (the
r12 rows for graph_triangles/dedup_embedding_lsh/graph_cc/
graph_pagerank are already recorded in SCALEPROBE_r12.json).
"""

from __future__ import annotations

import json
import os
import sys
import time

os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_pipeline_example_spark import get_spark  # noqa: E402
from etl_pipeline_example_spark.operators.simcore import (  # noqa: E402
    release_similarity_caches,
)

SF01 = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPLICAS = 10

# Production-selectivity LSH regime for the sparse-tau probe: at
# tau=0.75 the per-plane agreement for a true pair is
# 1 - acos(0.75)/pi ~= 0.77 vs 0.50 for a random pair, so 14-bit
# tables admit ~0.77^14 ~= 2.6% of true pairs per table (27% recall
# over 12 tables — a probe measures cost scaling, not recall) while
# random pairs collide at ~0.5^14 ~= 6e-5 per table: the candidate
# set is BOUNDED, so wall time must track input volume, closing the
# r12 inference that dedup_embedding_lsh's 94x sf1 wall was purely
# output-bound.
SPARSE_TABLES = 12
SPARSE_BITS = 14
SPARSE_TAU = 0.75


def build_sf1(spark, out_dir: str) -> None:
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    li = spark.read.parquet(f"{SF01}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF01}/orders.parquet")
    # spans derived from the input so replica keys can never alias; the
    # ORDERKEY span is shared between lineitem and orders so the
    # lineitem⋈orders join holds inside every replica (a lineitem-only
    # span silently stranded replicas 1..9 joinless — measured as a
    # constant-output q_mutual_top_pairs probe before this fix)
    mx = li.agg(
        F.max("l_orderkey").alias("o"), F.max("l_partkey").alias("p")
    ).first()
    o_span = max(
        int(mx["o"]), int(orders.agg(F.max("o_orderkey")).first()[0])
    ) + 1
    p_span = int(mx["p"]) + 1
    c_span = int(orders.agg(F.max("o_custkey")).first()[0]) + 1
    reps = None
    for i in range(REPLICAS):
        r = li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * o_span)).withColumn(
            "l_partkey", F.col("l_partkey") + F.lit(i * p_span)
        )
        reps = r if reps is None else reps.unionByName(r)
    reps.write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")

    # orders: offset replication consistent with lineitem (same o_span)
    # plus disjoint customers per replica -> 10 disjoint markets
    reps = None
    for i in range(REPLICAS):
        r = orders.withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(i * o_span)
        ).withColumn("o_custkey", F.col("o_custkey") + F.lit(i * c_span))
        reps = r if reps is None else reps.unionByName(r)
    reps.write.mode("overwrite").parquet(f"{out_dir}/orders.parquet")

    # documents: offset doc_ids so per-doc spines (hashed features,
    # dedup keys, distinct censuses) genuinely grow 10x — duplicate ids
    # would COLLAPSE group-bys and flatter the probe
    docs = spark.read.parquet(f"{SF01}/documents.parquet")
    d_span = int(docs.agg(F.max("doc_id")).first()[0]) + 1
    reps = None
    for i in range(REPLICAS):
        r = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * d_span))
        reps = r if reps is None else reps.unionByName(r)
    reps.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    # text-DISJOINT documents for near-dup-shaped probes (split_leakage):
    # a per-replica token-suffix BIJECTION keeps every intra-replica
    # shingle relation exactly as at sf0.1 while cross-replica Jaccard
    # drops to zero — plain offset-id replication would leave 10
    # identical copies of every text, and the 10-fold cross-replica
    # near-dup cliques (45 pairs per text) would measure output
    # explosion, not engine scaling (the replication-fidelity rule)
    td = None
    for i in range(REPLICAS):
        r = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * d_span))
        if i:
            r = r.withColumn(
                "text",
                F.expr(
                    "concat_ws(' ', transform(split(text, ' '),"
                    f" t -> concat(t, 'q{i}')))"
                ),
            )
        td = r if td is None else td.unionByName(r)
    os.makedirs(f"{out_dir}_text", exist_ok=True)
    td.write.mode("overwrite").parquet(f"{out_dir}_text/documents.parquet")

    # single-FILE documents.parquet for streaming probes: readStream's
    # pathGlobFilter matches files, not the directory Spark writes
    import glob
    import shutil

    os.makedirs(f"{out_dir}_stream", exist_ok=True)
    tmp = f"{out_dir}_stream/_docs_tmp"
    spark.read.parquet(f"{out_dir}/documents.parquet").coalesce(
        1
    ).write.mode("overwrite").parquet(tmp)
    part = glob.glob(f"{tmp}/part-*.parquet")[0]
    shutil.copy(part, f"{out_dir}_stream/documents.parquet")
    shutil.rmtree(tmp)

    # keyed events for the sketch probes (r16): user_id offset per
    # replica so the DISTINCT key space really grows 10x — plain
    # replication would leave the distinct-user set unchanged and the
    # HLL/CMS pre-aggregation work would be under-counted
    ev = spark.read.parquet(f"{SF01}/events.parquet")
    u_span = int(ev.agg(F.max("user_id")).first()[0]) + 1
    reps = None
    for i in range(REPLICAS):
        r = ev.withColumn("user_id", F.col("user_id") + F.lit(i * u_span))
        reps = r if reps is None else reps.unionByName(r)
    os.makedirs(f"{out_dir}_ekey", exist_ok=True)
    reps.write.mode("overwrite").parquet(f"{out_dir}_ekey/events.parquet")

    # single-FILE keyed events for the STREAMING sketch probes (r17):
    # readStream's pathGlobFilter=events.parquet matches files, so the
    # keyed replication is re-laid as one file (the _stream relay rule
    # applied to the _ekey replication)
    os.makedirs(f"{out_dir}_ekeystream", exist_ok=True)
    tmp_ev = f"{out_dir}_ekeystream/_ev_tmp"
    spark.read.parquet(f"{out_dir}_ekey/events.parquet").coalesce(
        1
    ).write.mode("overwrite").parquet(tmp_ev)
    part_ev = glob.glob(f"{tmp_ev}/part-*.parquet")[0]
    shutil.copy(part_ev, f"{out_dir}_ekeystream/events.parquet")
    shutil.rmtree(tmp_ev)

    # remaining tables: plain 10x replication (no key offsets) — enough
    # for SCAN-SHAPED probes (dq_null_census: per-column null counts
    # don't care about key aliasing); keyed/graph probes must use the
    # offset-replicated lineitem/orders/documents/embeddings above
    for tbl in [
        "region", "nation", "customer", "supplier", "part", "events",
    ]:
        base = spark.read.parquet(f"{SF01}/{tbl}.parquet")
        reps = base
        for _ in range(REPLICAS - 1):
            reps = reps.unionByName(base)
        reps.write.mode("overwrite").parquet(f"{out_dir}/{tbl}.parquet")

    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    n_span = int(emb.agg(F.max("vec_id")).first()[0]) + 1
    reps = None
    for i in range(REPLICAS):
        rot = F.expr(
            f"concat(slice(embedding, {i % 64 + 1}, {64 - (i % 64)}),"
            f" slice(embedding, 1, {i % 64}))"
        ) if i % 64 else F.col("embedding")
        r = emb.select(
            (F.col("vec_id") + F.lit(i * n_span)).alias("vec_id"),
            rot.alias("embedding"),
            "label",
        )
        reps = r if reps is None else reps.unionByName(r)
    reps.write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")


def neardup_sparse_tau(spark, sf_dir: str):
    """dedup_embedding_lsh's machinery at production selectivity:
    12 tables x 14 bits, tau=0.75. Bounded candidate set -> wall time
    tracks input volume (the clean linearity configuration)."""
    from pyspark.sql import functions as F

    from etl_pipeline_example_spark.operators.simcore import (
        _SPARK_DOT,
        _with_norm,
        tracked_persist,
    )
    from etl_pipeline_example_spark.operators.similarity import (
        lsh_candidate_pairs,
    )
    from etl_pipeline_example_spark.sources.readers import read_table

    emb = tracked_persist(
        _with_norm(
            read_table(spark, sf_dir, "embeddings", parallel=True),
            "embedding",
            "nrm",
        )
    )
    cand = lsh_candidate_pairs(spark, emb, SPARSE_TABLES, SPARSE_BITS)
    x = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    y = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    dot = _SPARK_DOT.format(a="ea", b="eb")
    return (
        cand.join(x, "vec_a")
        .join(y, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.expr(f"round(({dot}) / (na * nb), 6)").alias("cosine"),
        )
        .filter(F.col("cosine") >= SPARSE_TAU)
    )


def _ops() -> dict:
    from etl_pipeline_example_spark.operators.knnjoin import ann_knn_join
    from etl_pipeline_example_spark.operators.similarity import (
        dedup_embedding_lsh,
    )
    from etl_pipeline_example_spark.plans.clustercoeff import (
        graph_clustering_coeff,
    )
    from etl_pipeline_example_spark.plans.graph import graph_triangles
    from etl_pipeline_example_spark.plans.graphiter import (
        graph_cc,
        graph_pagerank,
    )
    from etl_pipeline_example_spark.plans.linkpred import (
        graph_common_neighbors,
    )
    from etl_pipeline_example_spark.operators.qtrain import quality_trained
    from etl_pipeline_example_spark.plans.distinctcensus import (
        dq_distinct_census,
    )
    from etl_pipeline_example_spark.plans.mutualtop import (
        q_mutual_top_pairs,
    )
    from etl_pipeline_example_spark.plans.nullcensus import dq_null_census
    from etl_pipeline_example_spark.plans.kcore import graph_kcore2

    def _splitleak_probe(spark, d):
        from etl_pipeline_example_spark.operators.splitleak import (
            split_leakage,
        )

        # sf1 side reads the text-disjoint replication (see build_sf1)
        return split_leakage(spark, d if d == SF01 else f"{d}_text")

    def _blockgate_probe(spark, d):
        from etl_pipeline_example_spark.streaming.blockgate import (
            stream_blocklist_quarantine,
        )

        # sf0.1 testdata is already a single file; the sf1 replication
        # is re-laid as one for the stream's pathGlobFilter
        return stream_blocklist_quarantine(
            spark, d if d == SF01 else f"{d}_stream"
        )

    def _bm25_probe(spark, d):
        from etl_pipeline_example_spark.operators.bm25 import bm25_rank

        # text-disjoint replication: each replica's eval queries match
        # only their own replica's candidates (true 10x workload)
        return bm25_rank(spark, d if d == SF01 else f"{d}_text")

    def _jpeg_probe(spark, d):
        from etl_pipeline_example_spark.operators.jpegdecode import (
            multimodal_decode_jpeg,
        )

        return multimodal_decode_jpeg(spark, d)

    from etl_pipeline_example_spark.plans.nodejaccard import (
        graph_node_jaccard,
    )
    from etl_pipeline_example_spark.plans.triples import q_basket_triples

    def _text_dir(fn):
        return lambda spark, d: fn(spark, d if d == SF01 else f"{d}_text")

    def _ekey_dir(fn):
        return lambda spark, d: fn(spark, d if d == SF01 else f"{d}_ekey")

    def _ekeystream_dir(fn):
        return lambda spark, d: fn(
            spark, d if d == SF01 else f"{d}_ekeystream"
        )

    from etl_pipeline_example_spark.operators.retragree import (
        retrieval_agreement,
    )
    from etl_pipeline_example_spark.operators.rrf import retrieval_rrf
    from etl_pipeline_example_spark.operators.editdist import dedup_editdist
    from etl_pipeline_example_spark.operators.jpegdchash import (
        multimodal_jpeg_dchash,
    )
    from etl_pipeline_example_spark.operators.cmsketch import sketch_cms_topk
    from etl_pipeline_example_spark.operators.hll import sketch_hll_registers
    from etl_pipeline_example_spark.operators.jpegprog import (
        multimodal_decode_jpeg2,
    )
    from etl_pipeline_example_spark.operators.kmv import (
        sketch_kmv_distinct,
    )
    from etl_pipeline_example_spark.operators.burst import events_burst_topk
    from etl_pipeline_example_spark.operators.tfcos import (
        dedup_tfidf_cosine,
    )
    from etl_pipeline_example_spark.operators.bm25prf import bm25_prf
    from etl_pipeline_example_spark.operators.shuffleaudit import (
        shuffle_run_audit,
    )
    from etl_pipeline_example_spark.operators.moments import sketch_moments
    from etl_pipeline_example_spark.operators.kanon import (
        privacy_k_anonymity,
        privacy_l_diversity,
        privacy_t_closeness,
    )
    from etl_pipeline_example_spark.operators.winnow import (
        dedup_winnow_pairs,
    )
    from etl_pipeline_example_spark.operators.cusum import (
        events_cusum_shift,
    )
    from etl_pipeline_example_spark.operators.mp3 import (
        multimodal_decode_mp3,
        multimodal_mp3_subband,
    )
    from etl_pipeline_example_spark.operators.dpclip import (
        privacy_contribution_bound,
    )
    from etl_pipeline_example_spark.plans.asofjoin import q_asof_nearest
    from etl_pipeline_example_spark.plans.bfs import graph_bfs_layers
    from etl_pipeline_example_spark.streaming.cusumfeed import (
        stream_cusum_shift,
    )
    from etl_pipeline_example_spark.streaming.kmvfeed import (
        stream_kmv_registers,
    )
    from etl_pipeline_example_spark.streaming.momentsfeed import (
        stream_moments,
    )

    return {
        "split_leakage": _splitleak_probe,
        "stream_blocklist_quarantine": _blockgate_probe,
        "bm25_rank": _bm25_probe,
        "multimodal_decode_jpeg": _jpeg_probe,
        "q_basket_triples": q_basket_triples,
        "graph_node_jaccard": graph_node_jaccard,
        "graph_triangles": graph_triangles,
        "dedup_embedding_lsh": dedup_embedding_lsh,
        "graph_cc": graph_cc,
        "graph_pagerank": graph_pagerank,
        "ann_knn_join": ann_knn_join,
        "graph_common_neighbors": graph_common_neighbors,
        "neardup_sparse_tau": neardup_sparse_tau,
        "graph_clustering_coeff": graph_clustering_coeff,
        "dq_null_census": dq_null_census,
        "q_mutual_top_pairs": q_mutual_top_pairs,
        "quality_trained": quality_trained,
        "dq_distinct_census": dq_distinct_census,
        "graph_kcore2": graph_kcore2,
        # r16 probes: the six unprobed r15 rows + the new progressive
        # decode (retrieval/editdist are near-dup-shaped -> text-
        # disjoint replicas; sketches -> keyed events; decodes are
        # doc_id-driven -> plain offset docs)
        "retrieval_agreement": _text_dir(retrieval_agreement),
        "retrieval_rrf": _text_dir(retrieval_rrf),
        "dedup_editdist": _text_dir(dedup_editdist),
        "multimodal_jpeg_dchash": multimodal_jpeg_dchash,
        "sketch_cms_topk": _ekey_dir(sketch_cms_topk),
        "sketch_hll_registers": _ekey_dir(sketch_hll_registers),
        "multimodal_decode_jpeg2": multimodal_decode_jpeg2,
        "sketch_kmv_distinct": _ekey_dir(sketch_kmv_distinct),
        "events_burst_topk": _ekey_dir(events_burst_topk),
        "dedup_tfidf_cosine": _text_dir(dedup_tfidf_cosine),
        "bm25_prf": _text_dir(bm25_prf),
        "shuffle_run_audit": shuffle_run_audit,
        "sketch_moments": _ekey_dir(sketch_moments),
        "privacy_k_anonymity": privacy_k_anonymity,
        "privacy_l_diversity": privacy_l_diversity,
        "privacy_t_closeness": privacy_t_closeness,
        "dedup_winnow_pairs": _text_dir(dedup_winnow_pairs),
        "events_cusum_shift": _ekey_dir(events_cusum_shift),
        # r17 probes: the two streaming sketches previously argued
        # bounded by analogy (single-file keyed relay so the stream
        # really replays 10x rows over a 10x key space) + the new MP3
        # decode (doc_id-driven, plain offset docs)
        "stream_kmv_registers": _ekeystream_dir(stream_kmv_registers),
        "stream_moments": _ekeystream_dir(stream_moments),
        "multimodal_decode_mp3": multimodal_decode_mp3,
        # r17 late additions (keyed events for the per-user ops so the
        # user space really grows 10x; bfs rides the offset lineitem
        # replication the graph family uses; subband is doc_id-driven)
        "multimodal_mp3_subband": multimodal_mp3_subband,
        "privacy_contribution_bound": _ekey_dir(privacy_contribution_bound),
        "q_asof_nearest": _ekey_dir(q_asof_nearest),
        "graph_bfs_layers": graph_bfs_layers,
        "stream_cusum_shift": _ekeystream_dir(stream_cusum_shift),
    }


def main() -> None:
    all_ops = _ops()
    names = sys.argv[1:] or list(all_ops)
    unknown = [n for n in names if n not in all_ops]
    if unknown:
        raise SystemExit(f"unknown ops: {unknown}; known: {list(all_ops)}")

    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    sf1_dir = "/tmp/scaleprobe_sf1"
    build_sf1(spark, sf1_dir)

    out = {}
    for name in names:
        fn = all_ops[name]
        # each run starts as a registry key does: the previous run's
        # caches are released first
        release_similarity_caches()
        fn(spark, SF01).count()  # warm: page cache, codegen, workers
        rows = {}
        times = {}
        for label, d in [("sf0.1", SF01), ("sf1", sf1_dir)]:
            release_similarity_caches()
            t0 = time.perf_counter()
            rows[label] = fn(spark, d).count()
            times[label] = round(time.perf_counter() - t0, 2)
        out[name] = {
            "t_sf0.1_s": times["sf0.1"],
            "t_sf1_s": times["sf1"],
            "ratio": round(times["sf1"] / times["sf0.1"], 2),
            "rows_sf0.1": rows["sf0.1"],
            "rows_sf1": rows["sf1"],
            "rows_per_sec_sf0.1": round(rows["sf0.1"] / times["sf0.1"], 1),
            "rows_per_sec_sf1": round(rows["sf1"] / times["sf1"], 1),
        }
        print(f"# {name}: {out[name]}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
