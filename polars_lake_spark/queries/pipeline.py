"""Training-data-pipeline queries: dedup, similarity search, text
analysis, multimodal plumbing (BASELINE.json north-star extensions).

Oracle notes: exact dedup / n-gram Jaccard / brute-force cosine / text
functions are fully SQL-expressible, so they get DuckDB oracles.
MinHash-LSH shares the exact-Jaccard oracle because its banding is
configured for ~1 recall at the threshold (see operators/dedup.py).
SimHash and hyperplane-LSH ANN depend on engine hash functions → rows-only.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from polars_lake_spark.functions import text as TX
from polars_lake_spark.operators import dedup as D
from polars_lake_spark.operators import multimodal as MM
from polars_lake_spark.operators import similarity as S
from polars_lake_spark.queries import register
from polars_lake_spark.sources import load_table

_COALESCE = "spark.sql.adaptive.coalescePartitions.enabled"


def _isolated_engine(spark, prefix: str):
    """A scratch Engine on an isolated session (``session.
    isolated_session``) under a fresh temp root, so a gate can flip
    confs without touching the caller's session. Returns (session,
    engine, root); the caller removes root."""
    import tempfile

    from polars_lake_spark import Engine
    from polars_lake_spark.session import isolated_session

    iso = isolated_session(spark)
    root = tempfile.mkdtemp(prefix=prefix)
    return iso, Engine(iso, root), root


_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

_JACCARD_ORACLE = """
    WITH docs AS (
        SELECT doc_id,
               string_split({norm}, ' ') AS w
        FROM documents
    ), sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(w) - 1),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
        FROM docs WHERE len(w) >= 3
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), common AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT d1, d2, ROUND(c * 1.0 / (s1.n + s2.n - c), 8) AS jaccard
    FROM common
    JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
    WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.8
""".format(norm=_NORM_SQL)


@register(
    "dedup_exact",
    oracle=f"""
    SELECT md5({_NORM_SQL}) AS fingerprint,
           COUNT(*) AS n_docs, MIN(doc_id) AS keeper_id
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup_groups(docs, "doc_id", "text").select(
        "fingerprint", "n_docs", "keeper_id"
    )


@register("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
    return pairs.select("d1", "d2", F.round("jaccard", 8).alias("jaccard"))


# Same oracle again, but by THEOREM rather than recall argument: prefix
# filtering under a global rarest-first shingle order provably generates
# every pair with J >= t as a candidate (pigeonhole on the smallest
# shared shingle), and candidates are exact-verified — so the output is
# the brute-force result without the all-pairs join. The third point in
# the dedup design space: exact+quadratic (ngram), approx+linear
# (minhash), exact+rare-collision-bounded (this).
@register("dedup_prefix_join", oracle=_JACCARD_ORACLE)
def dedup_prefix_join(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.prefix_filter_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
    return pairs.select("d1", "d2", F.round("jaccard", 8).alias("jaccard"))


# Same oracle as the exact query: banding (r=4, b=32) has ~1-5e-8 recall at
# the 0.8 threshold, and every candidate is exact-verified, so the outputs
# coincide — that's the point of the design.
@register("dedup_minhash_lsh", oracle=_JACCARD_ORACLE)
def dedup_minhash_lsh(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_perm=128, bands=32, threshold=0.8
    )
    return pairs.select("d1", "d2", F.round("jaccard", 8).alias("jaccard"))


# SimHash with an md5-derived word hash is engine-independent, so the
# oracle recomputes it all-pairs in DuckDB; the Spark side is banded
# (bands=4 > max_hamming=3 ⇒ pigeonhole-complete), so both coincide.
_SIMHASH_ORACLE = f"""
    WITH t AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents),
    w AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS w FROM t),
    h AS (SELECT doc_id, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS h FROM w),
    v AS (SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
          FROM h CROSS JOIN (SELECT unnest(range(48)) AS j) js
          GROUP BY doc_id, j),
    s AS (SELECT doc_id,
                 CAST(SUM(CASE WHEN vote > 0 THEN 1::BIGINT << j ELSE 0 END)
                      AS BIGINT) AS sim
          FROM v GROUP BY doc_id)
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sim, b.sim)) <= 3
"""


@register("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark, sf_dir):
    """word_hash='md5' pinned: bit-identical to the DuckDB oracle's md5
    (the production default is the faster JVM xxhash64)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.simhash_pairs(
        docs, "doc_id", "text", bits=48, band_bits=12, max_hamming=3,
        word_hash="md5",
    )
    return pairs.select("d1", "d2", F.col("hamming").cast("bigint").alias("hamming"))


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings WHERE vec_id < 500
    )
    SELECT a.vec_id AS d1, b.vec_id AS d2,
           ROUND(list_cosine_similarity(a.e, b.e), 4) AS cos_sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.e, b.e) >= 0.4
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Distributed exact all-pairs (block-pair equi-join grid) — replaces
    the r1 theta-join; see cosine_pairs_blocked docstring for why LSH
    can't prune at threshold 0.4 (measured ≥70% candidate rate)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    return S.cosine_pairs_blocked(emb, "vec_id", "embedding", threshold=0.4, n_blocks=8)


@register(
    "similarity_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings)
    SELECT qid, cid, ROUND(list_cosine_similarity(qv, cv), 4) AS cos_sim
    FROM q CROSS JOIN c
    WHERE qid <> cid
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY qid
        ORDER BY list_cosine_similarity(qv, cv) DESC, cid) <= 5
    """,
)
def similarity_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return S.brute_force_topk(emb, queries, "vec_id", "embedding", k=5)


@register(
    "embedding_quantize",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    s AS (SELECT vec_id, v,
            CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0 THEN 1.0
                 ELSE list_max(list_transform(v, x -> abs(x))) / 127.0
            END AS scale
          FROM e),
    q AS (SELECT vec_id, v, scale,
            list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INTEGER)) AS qi
          FROM s)
    SELECT vec_id, ROUND(scale, 8) AS scale,
           ARRAY_TO_STRING(qi, ',') AS q8,
           ROUND(list_max(list_transform(range(1, len(v) + 1),
                 i -> abs(v[i] - qi[i] * scale))), 8) AS max_err
    FROM q
    """,
)
def embedding_quantize(spark, sf_dir):
    """Symmetric int8 embedding quantization with per-vector scale and max
    reconstruction error — map-side only; floor(x+0.5) keeps ties
    bit-identical across engines (see quantize_int8)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.quantize_int8(emb, "vec_id", "embedding")


def _ann_lsh_oracle(n_planes: int = 12, dim: int = 64, k: int = 5) -> str:
    """The hyperplanes are md5-derived (engine-independent), so the oracle
    inlines them as literals and replays the exact bucketing + re-rank."""
    terms = " + ".join(
        "(CASE WHEN list_dot_product(v, ["
        + ",".join(str(x) for x in S._hyperplane(j, dim))
        + f"]) > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(n_planes)
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sig AS (SELECT vec_id, v, CAST({terms} AS BIGINT) AS bucket FROM e),
    q AS (SELECT vec_id AS qid, v AS qv, bucket FROM sig WHERE vec_id < 20),
    c AS (SELECT vec_id AS cid, v AS cv, bucket FROM sig)
    SELECT qid, cid, ROUND(list_cosine_similarity(qv, cv), 4) AS cos_sim
    FROM q JOIN c USING (bucket)
    WHERE qid <> cid
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY qid
        ORDER BY list_cosine_similarity(qv, cv) DESC, cid) <= {k}
    """


@register("similarity_ann_lsh", oracle=_ann_lsh_oracle())
def similarity_ann_lsh(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return S.lsh_topk(emb, queries, "vec_id", "embedding", k=5, n_planes=12, dim=64)


@register(
    "similarity_ivf",
    doc="IVF coarse-quantized ANN (k-means cells + nprobe search) — "
    "approximate by design, rows-only check",
)
def similarity_ivf(spark, sf_dir):
    from polars_lake_spark.operators.ivf import ivf_index, ivf_search, train_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = train_ivf(emb, k=8, iters=2).cache()
    index = ivf_index(emb, centroids).cache()
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_search(index, centroids, queries, k=5, nprobe=4)


@register(
    "similarity_ivf_recall",
    oracle="""
    SELECT COUNT(*) AS queries_checked, CAST(0 AS BIGINT) AS violations
    FROM embeddings WHERE vec_id < 10
    """,
    doc="IVF consistency companion: one summary row counting queries whose "
    "IVF top-k recall vs the exact brute-force top-k falls below 0.4. "
    "The oracle hardcodes the invariant violations=0 (and derives "
    "queries_checked from the data), so any recall regression in the "
    "deterministic IVF path shows up as a value mismatch.",
)
def similarity_ivf_recall(spark, sf_dir):
    from polars_lake_spark.operators.ivf import ivf_index, ivf_search, train_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = train_ivf(emb, k=8, iters=2).cache()
    index = ivf_index(emb, centroids)
    queries = emb.filter(F.col("vec_id") < 10)
    approx = ivf_search(index, centroids, queries, k=5, nprobe=4).select(
        "qid", F.col("cid").alias("acid")
    )
    exact = S.brute_force_topk(emb, queries, "vec_id", "embedding", k=5).select(
        "qid", "cid"
    )
    hits = exact.join(
        approx, (exact.qid == approx.qid) & (exact.cid == approx.acid), "left"
    ).select(exact.qid, F.when(approx.acid.isNotNull(), 1).otherwise(0).alias("hit"))
    recall = hits.groupBy("qid").agg(
        (F.sum("hit") / F.count(F.lit(1))).alias("recall")
    )
    return recall.agg(
        F.count(F.lit(1)).alias("queries_checked"),
        F.sum(F.when(F.col("recall") < 0.4, 1).otherwise(0)).alias("violations"),
    )


@register(
    "similarity_ivf_pruned_recall",
    oracle="""
    SELECT COUNT(*) AS queries_checked, CAST(0 AS BIGINT) AS violations
    FROM embeddings WHERE vec_id < 10
    """,
    doc="Recall invariant for the PERSISTED-index pruned probe path — the "
    "exact path bench.py's similarity_ivf headline times (train+index "
    "once, partition-pruned ivf_search_pruned per query). Invariant: "
    "pruned-probe top-k recall vs exact brute force >= 0.4 per query, "
    "and the pruned result EQUALS the unpruned ivf_search result.",
)
def similarity_ivf_pruned_recall(spark, sf_dir):
    """Builds the cell-partitioned index in a throwaway engine root,
    probes it with literal cell predicates, and checks BOTH invariants:
    recall vs brute force, and pruned == unpruned IVF (pruning must be a
    pure IO optimization, never a result change). Bounded collect; the
    temp warehouse is removed eagerly."""
    import shutil
    import tempfile

    from polars_lake_spark.engine import Engine
    from polars_lake_spark.operators.ivf import (
        ivf_index,
        ivf_search,
        ivf_search_pruned,
        ivf_write_index,
        train_ivf,
    )

    root = tempfile.mkdtemp(prefix="plsq_ivfprune_")
    try:
        eng = Engine(spark, root)
        emb = load_table(spark, sf_dir, "embeddings")
        trained = train_ivf(emb, k=8, iters=2)
        centroids = spark.createDataFrame(
            [(r.cell_id, list(r.cv), float(r.cnrm)) for r in trained.collect()],
            "cell_id int, cv array<double>, cnrm double",
        )
        ivf_write_index(eng, "ivf_idx", emb, centroids)
        queries = emb.filter(F.col("vec_id") < 10)
        pruned = ivf_search_pruned(
            eng, "ivf_idx", centroids, queries, k=5, nprobe=4
        ).select("qid", F.col("cid").alias("acid"))
        # invariant 1: pruned == unpruned (pruning is IO-only)
        unpruned = ivf_search(
            ivf_index(emb, centroids), centroids, queries, k=5, nprobe=4
        ).select("qid", "cid")
        sym_diff = (
            pruned.withColumnRenamed("acid", "cid").exceptAll(unpruned)
        ).unionAll(unpruned.exceptAll(pruned.withColumnRenamed("acid", "cid")))
        # invariant 2: recall vs exact brute force
        exact = S.brute_force_topk(emb, queries, "vec_id", "embedding", k=5).select(
            "qid", "cid"
        )
        hits = exact.join(
            pruned, (exact.qid == pruned.qid) & (exact.cid == pruned.acid), "left"
        ).select(
            exact.qid, F.when(pruned.acid.isNotNull(), 1).otherwise(0).alias("hit")
        )
        recall = hits.groupBy("qid").agg(
            (F.sum("hit") / F.count(F.lit(1))).alias("recall")
        )
        out = recall.agg(
            F.count(F.lit(1)).alias("queries_checked"),
            (
                F.coalesce(
                    F.sum(F.when(F.col("recall") < 0.4, 1).otherwise(0)), F.lit(0)
                )
                + F.lit(sym_diff.count()).cast("bigint")
            ).alias("violations"),
        )
        rows, schema = out.collect(), out.schema
        return spark.createDataFrame(rows, schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "ann_cdc_sync_check",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS vectors_indexed,
           CAST(0 AS BIGINT) AS violations
    FROM embeddings
    WHERE ((vec_id % 4 <> 3) OR (vec_id % 8 = 3)) AND vec_id % 9 <> 0
    """,
    doc="CDC-driven ANN index maintenance (VERDICT r5 item 5): an "
    "upsert (updates + inserts) and a delete on a versioned vector "
    "table flow through engine.changes into the persisted IVF index "
    "via ivf_sync_cdc; DuckDB pins the surviving vector count and "
    "violations asserts the synced index row-set equals a full "
    "re-index (byte-identical, no retraining).",
)
def ann_cdc_sync_check(spark, sf_dir):
    """Upsert + delete a versioned vector source, sync the persisted
    cell-partitioned IVF index from the change feed (preimages locate
    the old cells map-side; only touched cells rewrite), then prove the
    synced index is EXACTLY the index a from-scratch re-encode would
    build: symmetric exceptAll over (id, v, nrm, cell_id).  Mutation
    arithmetic is fixed (initial = vec_id%4<>3, inserts = vec_id%8=3,
    updates negate vec_id%10=0, deletes = vec_id%9=0) so the oracle
    derives the final membership in pure SQL."""
    import shutil
    import tempfile

    from polars_lake_spark.engine import Engine
    from polars_lake_spark.operators.ivf import (
        ivf_index,
        ivf_sync_cdc,
        ivf_write_index,
        train_ivf,
    )

    root = tempfile.mkdtemp(prefix="plsq_annsync_")
    try:
        eng = Engine(spark, root)
        emb = load_table(spark, sf_dir, "embeddings")
        trained = train_ivf(emb, k=8, iters=2)
        centroids = spark.createDataFrame(
            [(r.cell_id, list(r.cv), float(r.cnrm)) for r in trained.collect()],
            "cell_id int, cv array<double>, cnrm double",
        )
        src = emb.select("vec_id", "embedding").filter(F.col("vec_id") % 4 != 3)
        eng.create_table("vsrc", src, keys=["vec_id"], versioned=True)
        ivf_write_index(eng, "vidx", eng.table("vsrc"), centroids)
        v0 = eng._snapstore("vsrc").latest_version()

        batch = (
            emb.select("vec_id", "embedding")
            .filter((F.col("vec_id") % 10 == 0) | (F.col("vec_id") % 8 == 3))
            .select(
                "vec_id",
                F.when(
                    F.col("vec_id") % 10 == 0,
                    F.transform("embedding", lambda x: -x),
                )
                .otherwise(F.col("embedding"))
                .alias("embedding"),
            )
        )
        eng.upsert("vsrc", batch)
        eng.delete(
            "vsrc", emb.select("vec_id").filter(F.col("vec_id") % 9 == 0)
        )
        ivf_sync_cdc(eng, "vidx", "vsrc", from_version=v0)

        cols = ["id", "v", "nrm", "cell_id"]
        idx = eng.table("vidx").select(*cols)
        full = ivf_index(eng.table("vsrc"), centroids).select(*cols)
        diff = idx.exceptAll(full).count() + full.exceptAll(idx).count()
        n = idx.count()
        return spark.createDataFrame(
            [(n, diff)], "vectors_indexed bigint, violations bigint"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "text_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_NORM_SQL} AS norm FROM documents)
    SELECT doc_id,
           len(string_split(norm, ' ')) AS n_words,
           ROUND(length(replace(norm, ' ', '')) * 1.0
                 / len(string_split(norm, ' ')), 8) AS avg_word_len,
           ROUND(len(list_filter(string_split(norm, ' '),
                     w -> w IN ('the','a','of','and','to','in','is'))) * 1.0
                 / len(string_split(norm, ' ')), 8) AS stopword_ratio,
           ROUND(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 1.0
                 / GREATEST(length(text), 1), 8) AS punct_ratio
    FROM t
    """,
)
def text_stats(spark, sf_dir):
    from polars_lake_spark.operators.dedup import parallelize_for_cpu

    # spread the regex-heavy per-row stats when the corpus reads as one
    # task (guide §2.5 input skew); no-op at scale
    docs = parallelize_for_cpu(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    return docs.select(
        "doc_id",
        TX.word_count(t).alias("n_words"),
        F.round(TX.avg_word_len(t), 8).alias("avg_word_len"),
        F.round(TX.stopword_ratio(t), 8).alias("stopword_ratio"),
        F.round(TX.punct_ratio(t), 8).alias("punct_ratio"),
    )


@register(
    "text_quality_filter",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_NORM_SQL} AS norm FROM documents),
    scored AS (
        SELECT doc_id,
               LEAST(1.0, len(string_split(norm, ' ')) / 100.0)
               * (1 - length(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 1.0
                      / GREATEST(length(text), 1))
               * (0.5 + 0.5 * LEAST(1.0,
                     len(list_filter(string_split(norm, ' '),
                         w -> w IN ('the','a','of','and','to','in','is'))) * 1.0
                     / len(string_split(norm, ' ')) * 5)) AS q
        FROM t
    )
    SELECT doc_id, ROUND(q, 4) AS quality
    FROM scored WHERE q >= 0.3
    """,
)
def text_quality_filter(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", TX.quality_score(F.col("text")).alias("q")
    ).filter(F.col("q") >= 0.3)
    return scored.select("doc_id", F.round("q", 4).alias("quality"))


@register(
    "text_lang_id",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, ' ' || {_NORM_SQL} || ' ' AS p FROM documents)
    SELECT doc_id, lang,
           CASE WHEN p LIKE '% der %' OR p LIKE '% und %' OR p LIKE '% die %' THEN 'de'
                WHEN p LIKE '% le %' OR p LIKE '% la %' OR p LIKE '% et %' THEN 'fr'
                WHEN p LIKE '% el %' OR p LIKE '% los %' OR p LIKE '% y %' THEN 'es'
                WHEN p LIKE '% the %' OR p LIKE '% and %' OR p LIKE '% is %' THEN 'en'
                ELSE 'und' END AS lang_pred
    FROM t
    """,
)
def text_lang_id(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", TX.lang_id(F.col("text")).alias("lang_pred")
    )


@register(
    "token_count",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_NORM_SQL} AS norm FROM documents)
    SELECT doc_id,
           len(string_split(norm, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
               AS bpe_tokens,
           CAST(CEIL(length(text) / 4.0) AS BIGINT) AS subword_estimate
    FROM t
    """,
)
def token_count(spark, sf_dir):
    from polars_lake_spark.operators.dedup import parallelize_for_cpu

    docs = parallelize_for_cpu(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    return docs.select(
        "doc_id",
        TX.ws_token_count(t).alias("ws_tokens"),
        TX.bpe_token_count(t).alias("bpe_tokens"),
        TX.subword_estimate(t).alias("subword_estimate"),
    )


@register(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5({_NORM_SQL}) AS fp_md5,
           sha256({_NORM_SQL}) AS fp_sha256,
           substr(md5({_NORM_SQL}), 1, 12) AS fp_prefix
    FROM documents
    """,
)
def doc_fingerprint(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        TX.fingerprint_md5(t).alias("fp_md5"),
        TX.fingerprint_sha256(t).alias("fp_sha256"),
        TX.fingerprint_prefix(t, 12).alias("fp_prefix"),
    )


@register(
    "multimodal_binary_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS content_sha
    FROM documents
    """,
)
def multimodal_binary_meta(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    with_media = MM.attach_media_column(docs, "text")
    return with_media.select(
        "doc_id",
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.sha2(F.col("media"), 256).alias("content_sha"),
    )


@register(
    "multimodal_image_features",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
           CAST(16 + octet_length(encode(text)) % 624 AS INT) AS width,
           CAST(16 + doc_id % 464 AS INT) AS height,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END AS INT) AS channels,
           CAST(octet_length(encode(text)) +
                CASE WHEN doc_id % 2 = 0 THEN 33
                     WHEN doc_id % 3 = 0 THEN 33 ELSE 39 END AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def multimodal_image_features(spark, sf_dir):
    """Roundtrip: synthesize VALID PNG/JPEG blobs with formula-determined
    dimensions, then parse width/height/channels back out of the real
    headers (PNG IHDR / JPEG SOFn, pure-Python public-format parsing).
    The oracle predicts the parsed values from the same formulas — a
    mismatch means the synthesizer or parser is wrong."""
    docs = load_table(spark, sf_dir, "documents")
    blobs = MM.synthesize_images(docs, "doc_id", "text")
    return MM.parse_image_headers(blobs, "doc_id", "media")


@register(
    "multimodal_pixel_decode",
    oracle="""
    SELECT COUNT(*) AS images_checked, CAST(0 AS BIGINT) AS violations
    FROM documents
    """,
    doc="REAL PNG pixel codec invariant (r5): synthesize complete valid "
    "PNGs (zlib IDAT, mixed None/Up filters, CRCs) with closed-form "
    "pixels, decode them through the pure-stdlib codec, and require the "
    "decoded array to equal the formula ELEMENTWISE for every document. "
    "violations=0 is the oracle-pinned invariant — any inflate/unfilter/"
    "stride bug in encode_png/decode_png fails the gate.",
)
def multimodal_pixel_decode(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pngs = MM.synthesize_pixel_pngs(docs)
    checks = MM.verify_pixel_roundtrip(pngs)
    return checks.agg(
        F.count(F.lit(1)).cast("bigint").alias("images_checked"),
        F.coalesce(
            F.sum(F.when(~F.col("ok"), 1).otherwise(0)), F.lit(0)
        )
        .cast("bigint")
        .alias("violations"),
    )


@register(
    "multimodal_audio_decode",
    oracle="""
    SELECT doc_id,
           CAST(8000 + 4000 * (doc_id % 3) AS INT) AS sample_rate,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS INT) AS channels,
           CAST(256 + doc_id % 512 AS INT) AS n_samples,
           ROUND((256 + doc_id % 512) * 1000.0
                 / (8000 + 4000 * (doc_id % 3)), 6) AS duration_ms
    FROM documents
    """,
    doc="REAL WAV/PCM audio decode (r5): synthesize complete valid RIFF "
    "WAVs with formula-determined rate/channels/length, decode them "
    "through the stdlib codec, emit per-file audio features. The oracle "
    "predicts every feature from the formulas — a mismatch means the "
    "RIFF chunk walk, fmt parse, or PCM frame math is wrong. (RMS is "
    "checked elementwise in test_multimodal_codec; it's a float over "
    "~2003 modular terms, kept out of the hash compare.)",
)
def multimodal_audio_decode(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    wavs = MM.synthesize_pcm_wavs(docs)
    feats = MM.decode_audio(wavs)
    return feats.select(
        "doc_id", "sample_rate", "channels", "n_samples", "duration_ms"
    )


@register(
    "multimodal_video_frames",
    oracle="""
    WITH f AS (
        SELECT doc_id, unnest(range(0, 1 + doc_id % 5)) AS i FROM documents
    )
    SELECT doc_id,
           CAST(i AS INT) AS frame_idx,
           CAST(10 + 5 * (doc_id % 4) AS INT) AS fps,
           'jpeg' AS fmt,
           CAST(32 + doc_id % 64 AS INT) AS width,
           CAST(24 + doc_id % 48 AS INT) AS height,
           CAST(49 + i AS BIGINT) AS n_bytes
    FROM f
    """,
    doc="REAL AVI container walk (r5): synthesize complete MJPEG AVIs "
    "(RIFF LIST hdrl/movi, avih + vids/MJPG stream headers), extract "
    "every frame chunk, parse each frame's JPEG SOF header. One row per "
    "frame; the oracle predicts frame count, fps, dims, and byte sizes "
    "from the formulas — any container-walk or header bug mismatches. "
    "Frame PIXEL decode shares JPEG's honest entropy-coding gate.",
)
def multimodal_video_frames(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    avis = MM.synthesize_mjpeg_avis(docs)
    return MM.sample_video_frames(avis, every_n=1)


@register(
    "similarity_pq",
    doc="Product-quantization ANN (ADC shortlist over 8-byte codes, exact "
    "cosine re-rank) — approximate by design, rows-only check; the oracled "
    "similarity_pq_recall companion pins its quality.",
)
def similarity_pq(spark, sf_dir):
    from polars_lake_spark.operators.pq import pq_encode, pq_search_rerank, train_pq

    emb = load_table(spark, sf_dir, "embeddings")
    cbs = train_pq(emb, m=8, ksub=16, iters=2)
    codes = pq_encode(emb, cbs).cache()
    queries = emb.filter(F.col("vec_id") < 10)
    return pq_search_rerank(codes, cbs, emb, queries, k=5, shortlist=100)


@register(
    "similarity_pq_recall",
    oracle="""
    SELECT COUNT(*) AS queries_checked, CAST(0 AS BIGINT) AS violations
    FROM embeddings WHERE vec_id < 10
    """,
    doc="PQ consistency companion: violations=1 iff MEAN top-5 recall "
    "over the query set falls below 25% (integer-threshold compare). "
    "Aggregate recall@k is the standard ANN quality spec — a per-query "
    "floor is corpus-size-sensitive (at sf0.1 one query legitimately "
    "dips while the mean holds 54%; a broken index collapses to "
    "~shortlist/corpus, far below the floor at any scale).",
)
def similarity_pq_recall(spark, sf_dir):
    from polars_lake_spark.operators.pq import pq_encode, pq_search_rerank, train_pq

    emb = load_table(spark, sf_dir, "embeddings")
    cbs = train_pq(emb, m=8, ksub=16, iters=2)
    codes = pq_encode(emb, cbs).cache()
    queries = emb.filter(F.col("vec_id") < 10)
    approx = pq_search_rerank(codes, cbs, emb, queries, k=5, shortlist=100).select(
        "qid", F.col("cid").alias("acid")
    )
    exact = S.brute_force_topk(emb, queries, "vec_id", "embedding", k=5).select(
        "qid", "cid"
    )
    hits = exact.join(
        approx, (exact.qid == approx.qid) & (exact.cid == approx.acid), "left"
    ).select(exact.qid, F.when(approx.acid.isNotNull(), 1).otherwise(0).alias("hit"))
    return hits.agg(
        F.countDistinct("qid").alias("queries_checked"),
        # integer-threshold compare (no float boundary): mean recall
        # >= 25% <=> 100 * hits >= 25 * pairs
        F.when(
            F.sum("hit") * 100 < 25 * F.count(F.lit(1)), 1
        )
        .otherwise(0)
        .cast("bigint")
        .alias("violations"),
    )


@register(
    "similarity_ivfpq",
    doc="IVF-PQ with residual encoding (FAISS-style): coarse cells + "
    "per-cell residual codes, ADC shortlist over probed cells, exact "
    "re-rank — approximate by design, rows-only; quality pinned by the "
    "oracled similarity_ivfpq_recall companion.",
)
def similarity_ivfpq(spark, sf_dir):
    from polars_lake_spark.operators.pq import ivfpq_search_rerank, train_ivfpq

    emb = load_table(spark, sf_dir, "embeddings")
    cents, cbs, codes = train_ivfpq(emb, k_cells=8, m=8, ksub=16, iters=2)
    codes = codes.cache()
    queries = emb.filter(F.col("vec_id") < 10)
    return ivfpq_search_rerank(
        cents, cbs, codes, emb, queries, k=5, nprobe=6, shortlist=100
    )


@register(
    "similarity_ivfpq_recall",
    oracle="""
    SELECT COUNT(*) AS queries_checked, CAST(0 AS BIGINT) AS violations
    FROM embeddings WHERE vec_id < 10
    """,
    doc="IVF-PQ consistency companion: violations=1 iff MEAN top-5 "
    "recall over the query set falls below 15% (integer-threshold "
    "compare; measured 30% at sf0.1, higher at sf0.01 — 2x margin "
    "because nprobe truncation composes with PQ distortion; a single "
    "query CAN legitimately score 0.0 when its neighbors all land in "
    "unprobed cells, which is why the spec is aggregate).",
)
def similarity_ivfpq_recall(spark, sf_dir):
    from polars_lake_spark.operators.pq import ivfpq_search_rerank, train_ivfpq

    emb = load_table(spark, sf_dir, "embeddings")
    cents, cbs, codes = train_ivfpq(emb, k_cells=8, m=8, ksub=16, iters=2)
    codes = codes.cache()
    queries = emb.filter(F.col("vec_id") < 10)
    approx = ivfpq_search_rerank(
        cents, cbs, codes, emb, queries, k=5, nprobe=6, shortlist=100
    ).select("qid", F.col("cid").alias("acid"))
    exact = S.brute_force_topk(emb, queries, "vec_id", "embedding", k=5).select(
        "qid", "cid"
    )
    hits = exact.join(
        approx, (exact.qid == approx.qid) & (exact.cid == approx.acid), "left"
    ).select(exact.qid, F.when(approx.acid.isNotNull(), 1).otherwise(0).alias("hit"))
    return hits.agg(
        F.countDistinct("qid").alias("queries_checked"),
        F.when(
            F.sum("hit") * 100 < 15 * F.count(F.lit(1)), 1
        )
        .otherwise(0)
        .cast("bigint")
        .alias("violations"),
    )


# ---------------------------------------------------------------------------
# Incremental dedup (operators/incremental.py): batch-vs-persisted-corpus.
# The oracle recomputes exact Jaccard over everything and keeps only pairs
# touching the batch (doc_id % 5 == 0) — exactly the pairs the incremental
# path may emit (corpus-internal pairs are excluded on both sides).  LSH
# recall at the 0.8 threshold is ~1 (see minhash_lsh_pairs), so the banded
# result equals the exact result.
_INCR_JACCARD_ORACLE = f"""
    SELECT d1, d2, jaccard FROM ({_JACCARD_ORACLE})
    WHERE d1 % 5 = 0 OR d2 % 5 = 0
"""


@register("dedup_incremental_minhash", oracle=_INCR_JACCARD_ORACLE)
def dedup_incremental_minhash(spark, sf_dir):
    """A crawl lands: 20% of the corpus arrives as a new batch and is
    deduplicated against the indexed 80% WITHOUT re-shingling it — probe
    cost is O(batch).  The registry entry runs the operator path in one
    plan; MinHashIndex persists the same relations as engine tables."""
    from polars_lake_spark.operators import incremental as INC

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    ish, ient = INC.prepare_docs(corpus, "doc_id", "text")
    bsh, bent = INC.prepare_docs(batch, "doc_id", "text")
    pairs = INC.incremental_minhash_pairs(bsh, bent, ient, ish, threshold=0.8)
    return pairs.select(
        F.least("d1", "d2").alias("d1"),
        F.greatest("d1", "d2").alias("d2"),
        F.round("jaccard", 8).alias("jaccard"),
    )


# Winnowing (operators/winnow.py): exact-substring matches ≥ k+w-1 chars.
# md5-derived gram hash → bit-identical recomputation in DuckDB.
# k=20/w=10 ⇒ any shared verbatim run of ≥ 29 normalized chars is caught;
# shorter k floods this synthetic corpus with common-word-sequence pairs.
_WINNOW_K, _WINNOW_W = 20, 10
# Shared fingerprint CTEs: normalized text -> md5-derived char-gram hashes
# -> per-window minima -> exploded (doc_id, fp) relation "e".
_WINNOW_FPS_CTE = f"""
    t AS (SELECT doc_id, {_NORM_SQL} AS s FROM documents),
    g AS (SELECT doc_id,
                 list_transform(range(1, len(s) - {_WINNOW_K} + 2),
                     i -> CAST('0x' || substr(md5(substr(s, i, {_WINNOW_K})), 1, 15)
                          AS BIGINT)) AS hs
          FROM t WHERE len(s) >= {_WINNOW_K}),
    f AS (SELECT doc_id,
                 CASE WHEN len(hs) >= {_WINNOW_W}
                      THEN list_distinct(list_transform(
                           range(1, len(hs) - {_WINNOW_W} + 2),
                           j -> list_min(hs[j:j+{_WINNOW_W - 1}])))
                      ELSE [list_min(hs)] END AS fps
          FROM g),
    e AS (SELECT doc_id, unnest(fps) AS fp FROM f)
"""
_WINNOW_ORACLE = f"""
    WITH {_WINNOW_FPS_CTE},
    b AS (SELECT fp FROM e GROUP BY fp HAVING COUNT(*) > 1 AND COUNT(*) <= 50),
    p AS (SELECT a.doc_id AS d1, c.doc_id AS d2, COUNT(*) AS n_shared
          FROM e a JOIN b USING (fp) JOIN e c USING (fp)
          WHERE a.doc_id < c.doc_id
          GROUP BY 1, 2)
    SELECT d1, d2, CAST(n_shared AS BIGINT) AS n_shared
    FROM p WHERE n_shared >= 2
"""


@register("dedup_substring_winnow", oracle=_WINNOW_ORACLE)
def dedup_substring_winnow(spark, sf_dir):
    """gram_hash='md5' pinned for DuckDB bit-parity (the production
    default is the faster JVM xxhash64)."""
    from polars_lake_spark.operators import winnow as W

    docs = load_table(spark, sf_dir, "documents")
    pairs = W.winnow_match_pairs(
        docs, "doc_id", "text",
        k=_WINNOW_K, w=_WINNOW_W, min_shared=2, max_bucket=50,
        gram_hash="md5",
    )
    return pairs.select(
        "d1", "d2", F.col("n_shared").cast("bigint").alias("n_shared")
    )


# Substring decontamination: training docs quoting >= 29 verbatim chars of
# any benchmark doc (doc_id % 17 == 0 plays the benchmark set).
_DECONTAM_SUBSTR_ORACLE = f"""
    WITH {_WINNOW_FPS_CTE},
    bf AS (SELECT DISTINCT fp, doc_id AS bid FROM e WHERE doc_id % 17 = 0),
    tf AS (SELECT doc_id, fp FROM e WHERE doc_id % 17 <> 0)
    SELECT tf.doc_id AS doc_id,
           CAST(COUNT(DISTINCT bf.bid) AS BIGINT) AS n_bench_matches
    FROM tf JOIN bf USING (fp)
    GROUP BY 1
"""


@register("decontaminate_substring", oracle=_DECONTAM_SUBSTR_ORACLE)
def decontaminate_substring(spark, sf_dir):
    """Verbatim-quote decontamination: the benchmark side is small, so
    its fingerprints broadcast; the corpus side is one map-side
    fingerprint pass + broadcast join — no corpus shuffle.  md5 gram
    hash pinned for DuckDB bit-parity."""
    from polars_lake_spark.operators import winnow as W

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    train = docs.filter(F.col("doc_id") % 17 != 0)
    m = W.contamination_matches(
        train, bench, "doc_id", "text",
        k=_WINNOW_K, w=_WINNOW_W, gram_hash="md5",
    )
    return m.select(
        F.col("id").alias("doc_id"),
        F.col("n_bench_matches").cast("bigint").alias("n_bench_matches"),
    )


_INC_WINNOW_ORACLE = f"""
    WITH {_WINNOW_FPS_CTE},
    b AS (SELECT fp FROM e GROUP BY fp HAVING COUNT(*) > 1 AND COUNT(*) <= 50),
    p AS (SELECT a.doc_id AS d1, c.doc_id AS d2, COUNT(*) AS n_shared
          FROM e a JOIN b USING (fp) JOIN e c USING (fp)
          WHERE a.doc_id < c.doc_id
          GROUP BY 1, 2)
    SELECT d1, d2, CAST(n_shared AS BIGINT) AS n_shared
    FROM p WHERE n_shared >= 2 AND (d1 % 5 = 0 OR d2 % 5 = 0)
"""


@register("dedup_incremental_winnow", oracle=_INC_WINNOW_ORACLE)
def dedup_incremental_winnow(spark, sf_dir):
    """A crawl lands: 20% of the corpus probes the winnow fingerprints of
    the indexed 80% WITHOUT recomputing them (incremental_winnow_pairs —
    the exact-substring analog of dedup_incremental_minhash; batch side
    broadcast, bucket guard restricted to batch-touched fingerprints).
    Pair n_shared equals the full-corpus computation because bucket
    totals and the max_bucket cut are identical; the oracle replays the
    full pair set restricted to batch-touching pairs. md5 gram hash
    pinned for DuckDB bit-parity."""
    from polars_lake_spark.operators import incremental as INC
    from polars_lake_spark.operators import winnow as W

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)

    def entries(d):
        # winnow_entries = the shared persist-before-explode home; the
        # session-lifetime cache is the accepted lazy-query tradeoff
        # (prepare_docs contract)
        return INC.winnow_entries(
            d, "doc_id", "text", _WINNOW_K, _WINNOW_W, gram_hash="md5"
        )[1]

    pairs = INC.incremental_winnow_pairs(
        entries(batch), entries(corpus), min_shared=2, max_bucket=50
    )
    return pairs.select(
        F.least("d1", "d2").alias("d1"),
        F.greatest("d1", "d2").alias("d2"),
        F.col("n_shared").cast("bigint").alias("n_shared"),
    )


@register(
    "embedding_truncate",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    s AS (SELECT vec_id, v[1:16] AS sl FROM e),
    n AS (SELECT vec_id, sl,
                 sqrt(list_sum(list_transform(sl, x -> x * x))) AS nrm
          FROM s)
    SELECT vec_id, ROUND(nrm, 6) AS norm,
           ARRAY_TO_STRING(list_transform(
               CASE WHEN nrm > 0
                    THEN list_transform(sl, x -> x / nrm) ELSE sl END,
               x -> CAST(ROUND(x * 1000000) AS BIGINT)), ',') AS tvec16
    FROM n
    """,
)
def embedding_truncate(spark, sf_dir):
    """Matryoshka truncation to the 16-dim prefix + re-normalization
    (operators/similarity.py:truncate_normalize) — the cheap-tier vector
    for coarse retrieval when embeddings are MRL-trained. Elements
    rounded to 6dp and serialized so the hash compare is exact; the
    squared-norm fold is left-to-right in both engines, so the doubles
    match bit-for-bit before rounding."""
    from polars_lake_spark.operators.similarity import truncate_normalize

    emb = load_table(spark, sf_dir, "embeddings")
    t = truncate_normalize(emb, "vec_id", "embedding", 16)
    # elements serialize as round(x*1e6) INTEGERS: a float join would
    # hit Spark-vs-DuckDB formatting differences (1e-4 prints as
    # "-7.81E-4" vs "-0.000781") even when the values are identical
    return t.select(
        "vec_id",
        F.round("norm", 6).alias("norm"),
        F.array_join(
            F.transform(
                "tvec", lambda x: F.round(x * 1_000_000).cast("long")
            ),
            ",",
        ).alias("tvec16"),
    )


@register(
    "events_top_paths",
    oracle="""
    WITH seq AS (
        SELECT user_id,
               list(event_type ORDER BY ts, event_id) AS types
        FROM events WHERE user_id < 500 GROUP BY user_id
    ),
    tri AS (
        SELECT unnest(list_transform(range(1, len(types) - 1),
                   i -> types[i] || '>' || types[i+1] || '>' || types[i+2]))
                   AS path
        FROM seq WHERE len(types) >= 3
    )
    SELECT path, COUNT(*) AS n FROM tri
    GROUP BY path ORDER BY n DESC, path LIMIT 20
    """,
)
def events_top_paths(spark, sf_dir):
    """Path analysis: the 20 most common 3-step event journeys
    (view>click>purchase style), from per-user time-ordered sequences.
    One shuffle on user_id builds the ordered sequence; trigram
    explosion is map-side; the final count groups on a key set bounded
    by |event_types|^3. Deterministic total order (n DESC, path)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 500)
    seq = e.groupBy("user_id").agg(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda s: s["event_type"],
        ).alias("types")
    )
    tri = (
        seq.filter(F.size("types") >= 3)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("types") - 2),
                    lambda i: F.concat_ws(
                        ">",
                        F.element_at(F.col("types"), i),
                        F.element_at(F.col("types"), i + 1),
                        F.element_at(F.col("types"), i + 2),
                    ),
                )
            ).alias("path")
        )
    )
    return (
        tri.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(20)
    )


@register(
    "text_readability",
    oracle=f"""
    WITH t AS (SELECT doc_id, lower(text) AS lt, {_NORM_SQL} AS norm
               FROM documents),
    s AS (SELECT doc_id,
            greatest(1, len(list_filter(string_split_regex(lt, '[.!?]+'),
                                        x -> trim(x) <> ''))) AS sentences,
            list_filter(string_split(norm, ' '), w -> w <> '') AS ws
          FROM t),
    y AS (SELECT doc_id, sentences, greatest(1, len(ws)) AS n_words,
            COALESCE(list_sum(list_transform(ws, w -> greatest(1,
              len(list_filter(string_split_regex(w, '[^aeiouy]+'),
                              g -> g <> ''))))), 0) AS syl
          FROM s)
    SELECT doc_id,
           ROUND(206.835 - 1.015 * (n_words / CAST(sentences AS DOUBLE))
                 - 84.6 * (syl / CAST(n_words AS DOUBLE)), 4) AS flesch
    FROM y
    """,
)
def text_readability(spark, sf_dir):
    """Flesch reading-ease per document (functions/text.py:
    readability_flesch) — the classic prose-vs-gibberish quality gate
    (C4/Gopher-family heuristics band documents by it). Sentence split,
    word split, and vowel-group syllable counting are simple regex
    classes that evaluate identically under Java regex and RE2, so
    DuckDB replays the exact score."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(TX.readability_flesch(F.col("text")), 4).alias("flesch"),
    )


_SNM_ORACLE = f"""
    WITH docs0 AS (SELECT doc_id, {_NORM_SQL} AS norm,
                          string_split({_NORM_SQL}, ' ') AS w
                   FROM documents),
    d AS (SELECT doc_id, norm,
                 list_distinct(list_transform(range(1, len(w)-1),
                     i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS sh
          FROM docs0 WHERE len(w) >= 3),
    r AS (SELECT doc_id, norm, sh,
                 ROW_NUMBER() OVER (ORDER BY norm, doc_id) - 1 AS rk FROM d),
    pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, a.sh AS sa, b.sh AS sb
              FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + 9),
    j AS (SELECT d1, d2, len(list_intersect(sa, sb)) * 1.0 /
                 (len(sa) + len(sb) - len(list_intersect(sa, sb))) AS jac
          FROM pairs)
    SELECT d1, d2, ROUND(jac, 8) AS jaccard FROM j WHERE jac >= 0.8
"""


@register("dedup_snm", oracle=_SNM_ORACLE)
def dedup_snm(spark, sf_dir):
    """Sorted-neighborhood dedup (window 10 over the normalized-text
    sort order, exact-verified at 0.8): the classic O(docs·window) cheap
    pass — recall concentrated on near-dups sharing a sort prefix.  The
    interesting scale part is the distributed global rank underneath
    (range partitions + offset prefix-sum; NO single-task window sort —
    see operators/dedup.py:global_rank)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.sorted_neighborhood_pairs(
        docs, "doc_id", "text", window=10, n=3, threshold=0.8
    )
    return pairs.select("d1", "d2", F.round("jaccard", 8).alias("jaccard"))


_BM25_TERMS = ("merge", "vector", "stream", "filter")
_BM25_SQL = """
    WITH d AS (SELECT doc_id, string_split({norm}, ' ') AS ws FROM documents),
    dd AS (SELECT doc_id, len(ws) AS dl, ws FROM d),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dd),
    toks AS (SELECT doc_id, dl, unnest(ws) AS w FROM dd),
    tf AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM toks
           WHERE w IN ('merge', 'vector', 'stream', 'filter')
           GROUP BY doc_id, dl, w),
    dfreq AS (SELECT w, COUNT(*) AS dfreq FROM tf GROUP BY w),
    sc AS (SELECT doc_id,
             ROUND(SUM(LN(1 + (n_docs - dfreq + 0.5) / (dfreq + 0.5))
                   * tf * 2.2
                   / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4)
               AS bm25
           FROM tf JOIN dfreq USING (w) CROSS JOIN stats
           GROUP BY doc_id)
    SELECT doc_id, bm25,
           CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
               AS rank
    FROM sc
    QUALIFY ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) <= {k}
""".replace("{norm}", _NORM_SQL)


@register(
    "bm25_retrieval",
    oracle=_BM25_SQL.replace("{k}", "10"),
    doc="BM25 lexical retrieval (Lucene idf variant) — tokens filter to "
    "the query terms map-side before any shuffle, corpus stats are one "
    "scalar agg; scores round before ranking (ties break on doc_id) so "
    "the top-k is engine-independent.",
)
def bm25_retrieval(spark, sf_dir):
    """Top-10 documents by BM25 for a fixed bag-of-words query (see
    operators/retrieval.py:bm25_topk for the 100 TB shape: the token
    stream never shuffles — only (doc, term) counts for the |terms|
    query terms do)."""
    from polars_lake_spark.operators import retrieval as R

    docs = load_table(spark, sf_dir, "documents")
    return R.bm25_topk(docs, "doc_id", "text", list(_BM25_TERMS), k=10)


@register(
    "hybrid_retrieval_rrf",
    oracle="""
    WITH lex AS ({bm25}),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
          WHERE vec_id = 7),
    sem0 AS (SELECT vec_id AS doc_id,
               ROUND(list_cosine_similarity(
                   CAST(embedding AS DOUBLE[]), (SELECT qv FROM q)), 4)
                 AS cos_sim
             FROM embeddings WHERE vec_id <> 7),
    sem AS (SELECT doc_id,
              CAST(ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id)
                   AS BIGINT) AS rank
            FROM sem0
            QUALIFY ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id) <= 20),
    c AS (SELECT doc_id, 1000000000 // (60 + rank) AS c FROM lex
          UNION ALL
          SELECT doc_id, 1000000000 // (60 + rank) AS c FROM sem),
    f AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS rrf_score,
                 CAST(COUNT(*) AS BIGINT) AS n_lists
          FROM c GROUP BY doc_id)
    SELECT doc_id, rrf_score, n_lists,
           CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id)
                AS BIGINT) AS fused_rank
    FROM f
    QUALIFY ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) <= 10
    """.replace("{bm25}", _BM25_SQL.replace("{k}", "20")),
    doc="Hybrid retrieval: BM25 top-20 fused with embedding-cosine "
    "top-20 by reciprocal-rank fusion — RRF contributions are exact "
    "integer division (1e9 // (60 + rank)), so fused scores are "
    "bit-identical across engines and layouts.",
)
def hybrid_retrieval_rrf(spark, sf_dir):
    """The standard hybrid-search composition: a lexical ranking
    (BM25) and a semantic ranking (cosine vs a fixed query embedding,
    vec_id 7 — the document/embedding tables share the 0..N id space)
    fused by RRF. Both input rankings round-then-rank with doc_id
    tiebreaks; the fusion itself is pure integer arithmetic, so the
    gate pins the whole hybrid pipeline value-exactly."""
    from polars_lake_spark.operators import retrieval as R

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 7).head()["embedding"]
    ]
    lex = R.bm25_topk(docs, "doc_id", "text", list(_BM25_TERMS), k=20)
    sem = R.cosine_rank(
        emb.filter(F.col("vec_id") != 7), "vec_id", "embedding", qv, k=20
    )
    return R.rrf_fuse([lex, sem], k=60, topk=10)


@register(
    "retrieval_snippets",
    oracle="""
    WITH d AS (SELECT doc_id, string_split({norm}, ' ') AS ws
               FROM documents),
    st AS (SELECT doc_id, ws,
                  UNNEST(range(0, GREATEST(len(ws), 1), 16)) AS s
           FROM d),
    sc AS (SELECT doc_id, s,
             len(list_filter(list_slice(ws, s + 1, s + 32),
                 w -> w IN ('merge', 'vector', 'stream', 'filter')))
               AS hits,
             array_to_string(list_slice(ws, s + 1, s + 32), ' ')
               AS snippet
           FROM st)
    SELECT doc_id, start, hits, snippet FROM (
        SELECT doc_id, CAST(s AS BIGINT) AS start,
               CAST(hits AS BIGINT) AS hits, snippet,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY hits DESC, s) AS rn
        FROM sc)
    WHERE rn = 1 AND hits >= 1
    """.replace("{norm}", _NORM_SQL),
    doc="Best-snippet extraction (passage ranking): the 32-word window "
    "with the most query-term hits per doc, scored and reduced inside "
    "ONE aggregate HOF per row — zero shuffle, zero explode; integer "
    "hits + deterministic strings, earliest window wins ties.",
)
def retrieval_snippets(spark, sf_dir):
    """The passage-extraction step between retrieval and an LLM context
    window (operators/retrieval.py:best_snippet): entirely map-side —
    candidate windows fold to the best one inside a single higher-order
    aggregate per row; both the words array and each window's hit count
    are let-bound (HOF lambdas get no subexpression elimination)."""
    from polars_lake_spark.operators import retrieval as R

    docs = load_table(spark, sf_dir, "documents")
    return R.best_snippet(
        docs, "doc_id", "text", list(_BM25_TERMS), window=32, stride=16
    )


@register(
    "hard_negative_mining",
    oracle="""
    WITH lex AS ({bm25}),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
          WHERE vec_id = 7),
    sem0 AS (SELECT vec_id AS doc_id,
               ROUND(list_cosine_similarity(
                   CAST(embedding AS DOUBLE[]), (SELECT qv FROM q)), 4)
                 AS cos_sim
             FROM embeddings WHERE vec_id <> 7),
    sem AS (SELECT doc_id FROM sem0
            QUALIFY ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id)
                    <= 20)
    SELECT l.doc_id, l.bm25, l.rank AS lex_rank
    FROM lex l LEFT JOIN sem s ON l.doc_id = s.doc_id
    WHERE s.doc_id IS NULL
    ORDER BY l.rank
    """.replace("{bm25}", _BM25_SQL.replace("{k}", "20")),
    doc="Hard-negative mining for contrastive training: documents the "
    "LEXICAL ranking retrieves (BM25 top-20) that the SEMANTIC ranking "
    "rejects (not in cosine top-20) — lexically-plausible, "
    "semantically-far negatives. One broadcast anti-join of two "
    "bounded top-k sets.",
)
def hard_negative_mining(spark, sf_dir):
    """The standard hard-negative recipe: BM25-relevant docs that the
    embedding ranking places outside its top-k — the negatives that
    actually teach a contrastive model (random negatives are too easy).
    Composes bm25_topk and cosine_rank; both sides are ≤k rows, so the
    anti-join broadcasts."""
    from polars_lake_spark.operators import retrieval as R

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 7).head()["embedding"]
    ]
    lex = R.bm25_topk(docs, "doc_id", "text", list(_BM25_TERMS), k=20)
    sem = R.cosine_rank(
        emb.filter(F.col("vec_id") != 7), "vec_id", "embedding", qv, k=20
    )
    return (
        lex.join(F.broadcast(sem.select("doc_id")), "doc_id", "left_anti")
        .select("doc_id", "bm25", F.col("rank").alias("lex_rank"))
        .orderBy("lex_rank")
    )


@register(
    "bm25_batch_retrieval",
    oracle="""
    WITH q AS (SELECT * FROM (VALUES
            (1, ['merge', 'vector']),
            (2, ['stream', 'filter', 'scan']),
            (3, ['slow'])) AS t(qid, terms)),
    qt AS (SELECT DISTINCT qid, unnest(terms) AS w FROM q),
    d AS (SELECT doc_id, string_split({norm}, ' ') AS ws FROM documents),
    dd AS (SELECT doc_id, len(ws) AS dl, ws FROM d),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dd),
    toks AS (SELECT doc_id, dl, unnest(ws) AS w FROM dd),
    tf AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM toks
           WHERE w IN (SELECT DISTINCT w FROM qt)
           GROUP BY doc_id, dl, w),
    dfreq AS (SELECT w, COUNT(*) AS dfreq FROM tf GROUP BY w),
    sc AS (SELECT qid, doc_id,
             ROUND(SUM(LN(1 + (n_docs - dfreq + 0.5) / (dfreq + 0.5))
                   * tf * 2.2
                   / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4)
               AS bm25
           FROM tf JOIN qt USING (w) JOIN dfreq USING (w)
           CROSS JOIN stats
           GROUP BY qid, doc_id)
    SELECT qid, doc_id, bm25, rank FROM (
        SELECT qid, doc_id, bm25,
               CAST(ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank
        FROM sc)
    WHERE rank <= 5
    """.replace("{norm}", _NORM_SQL),
    doc="Batch BM25 mining — a TABLE of queries scored against the "
    "corpus in ONE pass: the token stream filters once by a broadcast "
    "semi-join on the union vocabulary, per-term stats are shared "
    "across queries, and the per-query top-k runs two-stage "
    "(skew.topk_per_group) so a hot query never funnels its matches "
    "through one task.",
)
def bm25_batch_retrieval(spark, sf_dir):
    """The mining shape a real pipeline runs — thousands of queries vs
    the corpus in one pass (operators/retrieval.py:bm25_batch_topk);
    per-query bm25_topk calls would rescan the corpus per query."""
    from polars_lake_spark.operators import retrieval as R

    docs = load_table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        [
            (1, ["merge", "vector"]),
            (2, ["stream", "filter", "scan"]),
            (3, ["slow"]),
        ],
        "qid bigint, terms array<string>",
    )
    return R.bm25_batch_topk(
        docs, "doc_id", "text", queries, "qid", "terms", k=5
    )


@register(
    "bm25_index_probe_check",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 2 = 0),
    d AS (SELECT doc_id,
                 string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
                 'g')), ' ') AS ws
          FROM corpus),
    dd AS (SELECT doc_id, len(ws) AS dl, ws FROM d),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dd),
    toks AS (SELECT doc_id, dl, unnest(ws) AS w FROM dd),
    tf AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM toks
           WHERE w IN ('merge', 'vector', 'stream', 'filter')
           GROUP BY doc_id, dl, w),
    dfreq AS (SELECT w, COUNT(*) AS dfreq FROM tf GROUP BY w),
    sc AS (SELECT doc_id,
             ROUND(SUM(LN(1 + (n_docs - dfreq + 0.5) / (dfreq + 0.5))
                   * tf * 2.2
                   / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4)
               AS bm25
           FROM tf JOIN dfreq USING (w) CROSS JOIN stats
           GROUP BY doc_id)
    SELECT doc_id, bm25,
           CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
               AS rank,
           CAST(0 AS BIGINT) AS violations
    FROM sc
    QUALIFY ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) <= 10
    """,
    doc="Persisted BM25 index gate: create → add_batch (shifted ids) → "
    "replayed add_batch (must index nothing) → probe. The probe reads "
    "the postings table through zone-map term skipping (postings are "
    "cluster_by=['w']); violations pins replay==0 AND that the probe "
    "actually skipped files. DuckDB replays BM25 over the union corpus.",
)
def bm25_index_probe_check(spark, sf_dir):
    """The serving-index lifecycle (operators/bm25_index.py): corpus-scan
    BM25 becomes an O(query-term postings) probe against a persisted
    term-clustered postings table — zone maps prune the probe's file
    list driver-side. add_batch is O(batch) (broadcast anti-join on
    known ids) and replay-safe."""
    import shutil

    from polars_lake_spark.operators.bm25_index import BM25Index

    iso, eng, root = _isolated_engine(spark, "plsq_bmi_")
    try:
        docs = load_table(iso, sf_dir, "documents").localCheckpoint(
            eager=True
        )
        # several files per write (AQE would coalesce the tiny test
        # corpus to one range partition, leaving nothing to skip)
        iso.conf.set(_COALESCE, "false")
        idx = BM25Index(eng, "d")
        idx.create(docs)
        shifted = docs.filter(F.col("doc_id") % 2 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
        added = idx.add_batch(shifted)
        replay = idx.add_batch(shifted)  # must index NOTHING
        top = idx.topk(list(_BM25_TERMS), k=10)
        rows = top.collect()
        rep = dict(eng.last_scan_report)
        viol = 0
        if replay != 0 or added == 0:
            viol += 1
        if not (0 < rep.get("files_kept", 0) < rep.get("files_total", 0)):
            viol += 1
        out = spark.createDataFrame(rows, top.schema).withColumn(
            "violations", F.lit(viol).cast("bigint")
        )
        rows2, schema = out.collect(), out.schema
        return spark.createDataFrame(rows2, schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "stream_apply_changes_check",
    oracle="""
    WITH seed AS (SELECT doc_id, text, -1 AS seq, 'upsert' AS op
                  FROM documents),
    ch AS (
      SELECT doc_id, 'upd-200' AS text, 200 AS seq, 'update' AS op
      FROM documents WHERE doc_id % 5 = 0 AND doc_id % 7 <> 1
      UNION ALL
      SELECT doc_id, NULL, 200, 'delete' FROM documents WHERE doc_id % 7 = 1
      UNION ALL
      SELECT doc_id + 1000000, 'ins-200', 200, 'insert'
      FROM documents WHERE doc_id % 11 = 0
      UNION ALL
      SELECT doc_id, 'stale-100', 100, 'update'
      FROM documents WHERE doc_id % 5 = 0 AND doc_id % 7 <> 1
      UNION ALL
      SELECT doc_id, 'res-100', 100, 'upsert'
      FROM documents WHERE doc_id % 7 = 1
      UNION ALL
      SELECT doc_id + 1000000, NULL, 100, 'delete'
      FROM documents WHERE doc_id % 11 = 0
      UNION ALL
      SELECT doc_id, 'upd-100', 100, 'update'
      FROM documents
      WHERE doc_id % 3 = 2 AND doc_id % 5 <> 0 AND doc_id % 7 <> 1),
    final AS (
      SELECT doc_id, text, op,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY seq DESC) AS rn
      FROM (SELECT * FROM seed UNION ALL SELECT * FROM ch))
    SELECT doc_id, text, CAST(0 AS BIGINT) AS violations
    FROM final WHERE rn = 1 AND op <> 'delete'
    ORDER BY doc_id
    """,
    doc="APPLY CHANGES INTO gate (streaming/ingest.py:"
    "stream_apply_changes): two REAL foreachBatch streams apply a CDC "
    "feed OUT OF ORDER — the newer-sequenced batch lands first, then a "
    "late batch whose stale updates/deletes/resurrections must all drop "
    "against the per-key applied-sequence watermark (__seq on the "
    "target + delete tombstones), while its unwatermarked keys still "
    "apply. DuckDB replays the global latest-sequence-per-key resolution "
    "over seed ∪ all changes; violations pins the tombstone store "
    "contents. Op sets are key-disjoint per sequence — two ops on one "
    "key at the SAME sequence resolve engine-arbitrarily (DLT documents "
    "the same), so the gate never generates that shape.",
)
def stream_apply_changes_check(spark, sf_dir):
    """Cross-batch CDC ordering (VERDICT r10 #4): the applied-sequence
    watermark lives IN the target data (O(keys) scales; driver meta
    does not), stale-filter lookups are map-side semi-joins against the
    broadcast batch key set, and a late batch can neither clobber,
    resurrect, nor delete newer state."""
    import os
    import shutil
    import tempfile

    from polars_lake_spark import Engine
    from polars_lake_spark.streaming.ingest import stream_apply_changes

    root = tempfile.mkdtemp(prefix="plsq_sac_")
    try:
        eng = Engine(spark, os.path.join(root, "wh"))
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        eng.create_table(
            "tgt", docs, keys=["doc_id"], versioned=True,
            deletion_vectors=True,
        )
        # derive the change batches from the immutable SOURCE, not the
        # mutating target (eng.table re-resolution must not shrink them)
        d = docs.select("doc_id")
        newer = (
            docs.filter(
                (F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 7 != 1)
            )
            .select(
                "doc_id",
                F.lit("upd-200").alias("text"),
                F.lit("update").alias("_op"),
                F.lit(200).cast("bigint").alias("seq"),
            )
            .unionByName(
                d.filter(F.col("doc_id") % 7 == 1).select(
                    "doc_id",
                    F.lit(None).cast("string").alias("text"),
                    F.lit("delete").alias("_op"),
                    F.lit(200).cast("bigint").alias("seq"),
                )
            )
            .unionByName(
                d.filter(F.col("doc_id") % 11 == 0).select(
                    (F.col("doc_id") + 1000000).alias("doc_id"),
                    F.lit("ins-200").alias("text"),
                    F.lit("insert").alias("_op"),
                    F.lit(200).cast("bigint").alias("seq"),
                )
            )
        )
        late = (
            d.filter(
                (F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 7 != 1)
            )
            .select(
                "doc_id",
                F.lit("stale-100").alias("text"),
                F.lit("update").alias("_op"),
                F.lit(100).cast("bigint").alias("seq"),
            )
            .unionByName(
                d.filter(F.col("doc_id") % 7 == 1).select(
                    "doc_id",
                    F.lit("res-100").alias("text"),
                    F.lit("upsert").alias("_op"),
                    F.lit(100).cast("bigint").alias("seq"),
                )
            )
            .unionByName(
                d.filter(F.col("doc_id") % 11 == 0).select(
                    (F.col("doc_id") + 1000000).alias("doc_id"),
                    F.lit(None).cast("string").alias("text"),
                    F.lit("delete").alias("_op"),
                    F.lit(100).cast("bigint").alias("seq"),
                )
            )
            .unionByName(
                d.filter(
                    (F.col("doc_id") % 3 == 2)
                    & (F.col("doc_id") % 5 != 0)
                    & (F.col("doc_id") % 7 != 1)
                ).select(
                    "doc_id",
                    F.lit("upd-100").alias("text"),
                    F.lit("update").alias("_op"),
                    F.lit(100).cast("bigint").alias("seq"),
                )
            )
        )
        for tag, batch in (("newer", newer), ("late", late)):
            staging = os.path.join(root, f"st_{tag}")
            batch.write.parquet(staging)
            stream = spark.readStream.schema(batch.schema).parquet(staging)
            q = stream_apply_changes(
                eng, "tgt", stream, sequence_by="seq",
                checkpoint_dir=os.path.join(root, f"ck_{tag}"),
            )
            q.awaitTermination(300)
        # tombstones: exactly the APPLIED deletes (the %7 keys at seq
        # 200); the late stale deletes were watermark-dropped
        n_tomb = eng.table("tgt_cdc_tombstones").count()
        n_del = d.filter(F.col("doc_id") % 7 == 1).count()
        viol = 0 if n_tomb == n_del else 1
        out = (
            eng.table("tgt")
            .select(
                "doc_id",
                "text",
                F.lit(viol).cast("bigint").alias("violations"),
            )
            .orderBy("doc_id")
        )
        rows, schema = out.collect(), out.schema
        return spark.createDataFrame(rows, schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "stream_apply_changes_scd2_check",
    oracle="""
    WITH ch AS (
      SELECT doc_id, 'upd-200' AS text, 200 AS seq, 'update' AS op
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id, 'upd-300', 300, 'update'
      FROM documents WHERE doc_id % 5 = 0 AND doc_id % 3 = 0
      UNION ALL
      SELECT doc_id, NULL, 250, 'delete' FROM documents WHERE doc_id % 7 = 1
      UNION ALL
      SELECT doc_id + 1000000, 'ins-220', 220, 'insert'
      FROM documents WHERE doc_id % 11 = 0
      UNION ALL
      -- the late batch's only SURVIVORS: keys with no prior history
      -- (late 'stale-100' rows on %5 keys drop against watermark 200+)
      SELECT doc_id, 'upd-150', 150, 'update'
      FROM documents
      WHERE doc_id % 2 = 1 AND doc_id % 5 <> 0 AND doc_id % 7 <> 1),
    led AS (
      SELECT doc_id, text, seq, op,
             LEAD(seq) OVER (PARTITION BY doc_id ORDER BY seq) AS nxt
      FROM ch),
    firsts AS (
      SELECT doc_id, MIN(seq) AS fst FROM ch GROUP BY doc_id),
    hist AS (
      SELECT doc_id, text,
             CAST(seq AS BIGINT) AS __start_seq,
             CAST(nxt AS BIGINT) AS __end_seq
      FROM led WHERE op <> 'delete'
      UNION ALL
      SELECT d.doc_id, d.text,
             CAST(NULL AS BIGINT), CAST(f.fst AS BIGINT)
      FROM documents d LEFT JOIN firsts f USING (doc_id))
    SELECT doc_id, text, __start_seq, __end_seq,
           CAST(0 AS BIGINT) AS violations
    FROM hist
    ORDER BY doc_id, __start_seq NULLS FIRST
    """,
    doc="SCD TYPE 2 apply gate (streaming/ingest.py:"
    "stream_apply_changes_scd2): two REAL foreachBatch streams, the "
    "newer first — every surviving change is a version row chained by "
    "(__start_seq, __end_seq), in-batch chains included (%15 keys take "
    "two versions in one batch, %35 keys interleave update→delete), "
    "seeds close at their key's first change, deletes close without "
    "reopening, and the late batch's stale rows drop against each key's "
    "history-derived watermark while its unwatermarked keys apply. "
    "DuckDB replays the full history with one LEAD window. violations "
    "pins the at-most-one-current-row-per-key invariant and the "
    "scd2_current ≡ latest-resolution equivalence.",
)
def stream_apply_changes_scd2_check(spark, sf_dir):
    """History-preserving CDC apply (DLT stored_as_scd_type=2 analog):
    the dimension-table pattern every warehouse needs — point-in-time
    joins come free from (__start_seq, __end_seq] containment."""
    import os
    import shutil
    import tempfile

    from polars_lake_spark import Engine
    from polars_lake_spark.streaming.ingest import (
        scd2_current,
        scd2_init,
        stream_apply_changes_scd2,
    )

    root = tempfile.mkdtemp(prefix="plsq_scd2_")
    try:
        eng = Engine(spark, os.path.join(root, "wh"))
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        scd2_init(eng, "tgt", docs, keys=["doc_id"], versioned=True)
        d = docs.select("doc_id")
        newer = (
            d.filter(F.col("doc_id") % 5 == 0)
            .select(
                "doc_id",
                F.lit("upd-200").alias("text"),
                F.lit("update").alias("_op"),
                F.lit(200).cast("bigint").alias("seq"),
            )
            .unionByName(
                d.filter(
                    (F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 3 == 0)
                ).select(
                    "doc_id",
                    F.lit("upd-300").alias("text"),
                    F.lit("update").alias("_op"),
                    F.lit(300).cast("bigint").alias("seq"),
                )
            )
            .unionByName(
                d.filter(F.col("doc_id") % 7 == 1).select(
                    "doc_id",
                    F.lit(None).cast("string").alias("text"),
                    F.lit("delete").alias("_op"),
                    F.lit(250).cast("bigint").alias("seq"),
                )
            )
            .unionByName(
                d.filter(F.col("doc_id") % 11 == 0).select(
                    (F.col("doc_id") + 1000000).alias("doc_id"),
                    F.lit("ins-220").alias("text"),
                    F.lit("insert").alias("_op"),
                    F.lit(220).cast("bigint").alias("seq"),
                )
            )
        )
        late = (
            d.filter(F.col("doc_id") % 5 == 0)
            .select(
                "doc_id",
                F.lit("stale-100").alias("text"),
                F.lit("update").alias("_op"),
                F.lit(100).cast("bigint").alias("seq"),
            )
            .unionByName(
                d.filter(
                    (F.col("doc_id") % 2 == 1)
                    & (F.col("doc_id") % 5 != 0)
                    & (F.col("doc_id") % 7 != 1)
                ).select(
                    "doc_id",
                    F.lit("upd-150").alias("text"),
                    F.lit("update").alias("_op"),
                    F.lit(150).cast("bigint").alias("seq"),
                )
            )
        )
        for tag, batch in (("newer", newer), ("late", late)):
            staging = os.path.join(root, f"st_{tag}")
            batch.write.parquet(staging)
            stream = spark.readStream.schema(batch.schema).parquet(staging)
            q = stream_apply_changes_scd2(
                eng, "tgt", stream, sequence_by="seq",
                checkpoint_dir=os.path.join(root, f"ck_{tag}"),
            )
            q.awaitTermination(300)
        hist = eng.table("tgt")
        viol = 0
        # invariant: at most one OPEN version per key
        if (
            hist.filter(F.col("__end_seq").isNull())
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .head(1)
        ):
            viol += 1
        # the TYPE 1 view must expose exactly the open versions
        cur = {
            r.doc_id: r.text
            for r in scd2_current(eng, "tgt").collect()
        }
        n_open = hist.filter(F.col("__end_seq").isNull()).count()
        if len(cur) != n_open:
            viol += 1
        out = (
            hist.select("doc_id", "text", "__start_seq", "__end_seq")
            .withColumn("violations", F.lit(viol).cast("bigint"))
            .orderBy("doc_id", F.asc_nulls_first("__start_seq"))
        )
        rows, schema = out.collect(), out.schema
        return spark.createDataFrame(rows, schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "scd2_asof_join_check",
    oracle="""
    WITH ch AS (
      SELECT doc_id, 'upd-200' AS text, 200 AS seq, 'update' AS op
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id, 'upd-300', 300, 'update'
      FROM documents WHERE doc_id % 5 = 0 AND doc_id % 3 = 0
      UNION ALL
      SELECT doc_id, NULL, 250, 'delete' FROM documents WHERE doc_id % 7 = 1
      UNION ALL
      SELECT doc_id + 1000000, 'ins-220', 220, 'insert'
      FROM documents WHERE doc_id % 11 = 0),
    led AS (
      SELECT doc_id, text, seq, op,
             LEAD(seq) OVER (PARTITION BY doc_id ORDER BY seq) AS nxt
      FROM ch),
    firsts AS (SELECT doc_id, MIN(seq) AS fst FROM ch GROUP BY doc_id),
    hist AS (
      SELECT doc_id, text, seq AS s0, nxt AS s1
      FROM led WHERE op <> 'delete'
      UNION ALL
      SELECT d.doc_id, d.text, NULL, f.fst
      FROM documents d LEFT JOIN firsts f USING (doc_id)),
    probes AS (
      SELECT doc_id, v.s FROM documents
      CROSS JOIN (VALUES (150), (225), (275), (350)) v(s))
    SELECT p.doc_id, CAST(p.s AS BIGINT) AS seq, h.text AS text_dim,
           CAST(0 AS BIGINT) AS violations
    FROM probes p LEFT JOIN hist h
      ON p.doc_id = h.doc_id
      AND (h.s0 IS NULL OR h.s0 <= p.s)
      AND (h.s1 IS NULL OR h.s1 > p.s)
    ORDER BY p.doc_id, seq
    """,
    doc="Point-in-time dimension join gate (operators/asof.py:"
    "scd2_asof_join over a REAL stream_apply_changes_scd2 target): "
    "every (doc, probe-sequence) fact picks up the version valid at its "
    "sequence — seed versions, mid-chain versions, delete gaps (NULL), "
    "validity [start, end). The union+window formulation shuffles ONCE "
    "on (key, seq) — no range join. DuckDB replays history + a range "
    "LEFT join. violations pins fact-row conservation (left semantics).",
)
def scd2_asof_join_check(spark, sf_dir):
    """The warehouse point-in-time pattern: facts against an SCD2
    dimension without a range-explosion join — one shuffle+sort on
    (keys, seq), versions carried as structs."""
    import os
    import shutil
    import tempfile

    from polars_lake_spark import Engine
    from polars_lake_spark.operators.asof import scd2_asof_join
    from polars_lake_spark.streaming.ingest import (
        scd2_init,
        stream_apply_changes_scd2,
    )

    root = tempfile.mkdtemp(prefix="plsq_s2aj_")
    try:
        eng = Engine(spark, os.path.join(root, "wh"))
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        scd2_init(eng, "tgt", docs, keys=["doc_id"], versioned=True)
        d = docs.select("doc_id")
        batch = (
            d.filter(F.col("doc_id") % 5 == 0)
            .select(
                "doc_id",
                F.lit("upd-200").alias("text"),
                F.lit("update").alias("_op"),
                F.lit(200).cast("bigint").alias("seq"),
            )
            .unionByName(
                d.filter(
                    (F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 3 == 0)
                ).select(
                    "doc_id",
                    F.lit("upd-300").alias("text"),
                    F.lit("update").alias("_op"),
                    F.lit(300).cast("bigint").alias("seq"),
                )
            )
            .unionByName(
                d.filter(F.col("doc_id") % 7 == 1).select(
                    "doc_id",
                    F.lit(None).cast("string").alias("text"),
                    F.lit("delete").alias("_op"),
                    F.lit(250).cast("bigint").alias("seq"),
                )
            )
            .unionByName(
                d.filter(F.col("doc_id") % 11 == 0).select(
                    (F.col("doc_id") + 1000000).alias("doc_id"),
                    F.lit("ins-220").alias("text"),
                    F.lit("insert").alias("_op"),
                    F.lit(220).cast("bigint").alias("seq"),
                )
            )
        )
        staging = os.path.join(root, "st")
        batch.write.parquet(staging)
        stream = spark.readStream.schema(batch.schema).parquet(staging)
        q = stream_apply_changes_scd2(
            eng, "tgt", stream, sequence_by="seq",
            checkpoint_dir=os.path.join(root, "ck"),
        )
        q.awaitTermination(300)
        probes = d.crossJoin(
            spark.createDataFrame(
                [(150,), (225,), (275,), (350,)], "seq bigint"
            )
        )
        n_facts = probes.count()
        joined = scd2_asof_join(
            probes, eng.table("tgt"), ["doc_id"], "seq"
        )
        viol = 0 if joined.count() == n_facts else 1
        out = (
            joined.select(
                "doc_id", "seq", F.col("text_dim"),
                F.lit(viol).cast("bigint").alias("violations"),
            )
            .orderBy("doc_id", "seq")
        )
        rows, schema = out.collect(), out.schema
        return spark.createDataFrame(rows, schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "bm25_phrase_check",
    oracle="""
    WITH d AS (SELECT doc_id, string_split({norm}, ' ') AS ws
               FROM documents),
    dd AS (SELECT doc_id, len(ws) AS dl, ws FROM d),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dd),
    toks AS (SELECT doc_id, dl, unnest(ws) AS w,
                    generate_subscripts(ws, 1) AS p
             FROM dd),
    slots AS (SELECT * FROM (VALUES (0, 'merge'), (1, 'stream')) s(slot, w)),
    e AS (SELECT DISTINCT doc_id, dl, slot, p - slot AS start
          FROM toks JOIN slots USING (w)),
    occ AS (SELECT doc_id, dl, start FROM e
            GROUP BY doc_id, dl, start HAVING COUNT(*) = 2),
    tfq AS (SELECT doc_id, dl, COUNT(*) AS tf FROM occ GROUP BY doc_id, dl),
    dfq AS (SELECT COUNT(*) AS dfreq FROM tfq),
    sc AS (SELECT doc_id,
             ROUND(LN(1 + (n_docs - dfreq + 0.5) / (dfreq + 0.5))
                   * tf * 2.2
                   / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 4)
               AS bm25
           FROM tfq CROSS JOIN dfq CROSS JOIN stats)
    SELECT doc_id, bm25,
           CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
               AS rank,
           CAST(0 AS BIGINT) AS violations
    FROM sc
    QUALIFY ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) <= 10
    """.replace("{norm}", _NORM_SQL),
    doc="Positional phrase query against the persisted BM25 index "
    "(bm25_index.py:phrase_topk): postings carry per-term 1-based "
    "position arrays, a phrase match is the consecutive-position "
    "intersection (start = pos − slot present for EVERY slot; overlaps "
    "count), scored as one pseudo-term (tf = occurrences, df = matched "
    "docs, Lucene idf × saturation). The probe is the same zone-map "
    "pruned w IN (...) scan as bag-of-words topk — violations pins that "
    "files were actually skipped. DuckDB replays the match relationally "
    "via generate_subscripts.",
)
def bm25_phrase_check(spark, sf_dir):
    """Exact consecutive-phrase retrieval — the query bag-of-words BM25
    cannot express — as a positional-postings probe: O(phrase-term
    postings) scan (zone-map pruned), position arithmetic + per-doc
    grouping only on that query-bounded set."""
    import shutil

    from polars_lake_spark.operators.bm25_index import BM25Index

    iso, eng, root = _isolated_engine(spark, "plsq_bmp_")
    try:
        docs = load_table(iso, sf_dir, "documents").localCheckpoint(
            eager=True
        )
        iso.conf.set(_COALESCE, "false")
        idx = BM25Index(eng, "d")
        idx.create(docs)
        top = idx.phrase_topk(["merge", "stream"], k=10)
        rows = top.collect()
        rep = dict(eng.last_scan_report)
        viol = 0
        if not (0 < rep.get("files_kept", 0) < rep.get("files_total", 0)):
            viol += 1
        out = spark.createDataFrame(rows, top.schema).withColumn(
            "violations", F.lit(viol).cast("bigint")
        )
        rows2, schema = out.collect(), out.schema
        return spark.createDataFrame(rows2, schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "bm25_phrase_slop_check",
    oracle="""
    WITH d AS (SELECT doc_id, string_split({norm}, ' ') AS ws
               FROM documents),
    dd AS (SELECT doc_id, len(ws) AS dl, ws FROM d),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dd),
    toks AS (SELECT doc_id, dl, unnest(ws) AS w,
                    generate_subscripts(ws, 1) AS p
             FROM dd),
    t0 AS (SELECT doc_id, dl, p FROM toks WHERE w = 'merge'),
    t1 AS (SELECT doc_id, p FROM toks WHERE w = 'stream'),
    occ AS (SELECT DISTINCT a.doc_id, a.dl, a.p AS start
            FROM t0 a JOIN t1 b ON a.doc_id = b.doc_id
            WHERE b.p > a.p AND b.p - a.p <= 3),
    tfq AS (SELECT doc_id, dl, COUNT(*) AS tf FROM occ
            GROUP BY doc_id, dl),
    dfq AS (SELECT COUNT(*) AS dfreq FROM tfq),
    sc AS (SELECT doc_id,
             ROUND(LN(1 + (n_docs - dfreq + 0.5) / (dfreq + 0.5))
                   * tf * 2.2
                   / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 4)
               AS bm25
           FROM tfq CROSS JOIN dfq CROSS JOIN stats)
    SELECT doc_id, bm25,
           CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
               AS rank,
           CAST(0 AS BIGINT) AS violations
    FROM sc
    QUALIFY ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) <= 10
    """.replace("{norm}", _NORM_SQL),
    doc="Sloppy ordered phrase query (bm25_index.py:phrase_topk "
    "slop=2): 'merge ... stream' with up to two tokens between, order "
    "enforced, tf = DISTINCT valid start positions (a start reachable "
    "through two end positions counts once). Same zone-map pruned "
    "probe; the sloppy path chains per-slot position sets with "
    "per-doc joins bounded by the probed postings. DuckDB replays the "
    "proximity join relationally; violations pins file skipping.",
)
def bm25_phrase_slop_check(spark, sf_dir):
    """Ordered proximity retrieval (Lucene sloppy-PhraseQuery spirit,
    semantics pinned in the operator docstring): all matching stays
    O(phrase-term postings) after the same pruned probe exact phrases
    use."""
    import shutil

    from polars_lake_spark.operators.bm25_index import BM25Index

    iso, eng, root = _isolated_engine(spark, "plsq_bms_")
    try:
        docs = load_table(iso, sf_dir, "documents").localCheckpoint(
            eager=True
        )
        iso.conf.set(_COALESCE, "false")
        idx = BM25Index(eng, "d")
        idx.create(docs)
        top = idx.phrase_topk(["merge", "stream"], k=10, slop=2)
        rows = top.collect()
        rep = dict(eng.last_scan_report)
        viol = 0
        if not (0 < rep.get("files_kept", 0) < rep.get("files_total", 0)):
            viol += 1
        out = spark.createDataFrame(rows, top.schema).withColumn(
            "violations", F.lit(viol).cast("bigint")
        )
        rows2, schema = out.collect(), out.schema
        return spark.createDataFrame(rows2, schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "bm25_index_cdc_sync_check",
    oracle="""
    WITH kept AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 1 THEN text || ' merge stream'
                    ELSE text END AS text
        FROM documents WHERE doc_id % 7 <> 3),
    ins AS (SELECT doc_id + 1000000 AS doc_id, text FROM documents
            WHERE doc_id % 3 = 0),
    corpus AS (SELECT * FROM kept UNION ALL SELECT * FROM ins),
    d AS (SELECT doc_id,
                 string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
                 'g')), ' ') AS ws
          FROM corpus),
    dd AS (SELECT doc_id, len(ws) AS dl, ws FROM d),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dd),
    toks AS (SELECT doc_id, dl, unnest(ws) AS w FROM dd),
    tf AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM toks
           WHERE w IN ('merge', 'vector', 'stream', 'filter')
           GROUP BY doc_id, dl, w),
    dfreq AS (SELECT w, COUNT(*) AS dfreq FROM tf GROUP BY w),
    sc AS (SELECT doc_id,
             ROUND(SUM(LN(1 + (n_docs - dfreq + 0.5) / (dfreq + 0.5))
                   * tf * 2.2
                   / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4)
               AS bm25
           FROM tf JOIN dfreq USING (w) CROSS JOIN stats
           GROUP BY doc_id)
    SELECT doc_id, bm25,
           CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
               AS rank,
           CAST(0 AS BIGINT) AS violations
    FROM sc
    QUALIFY ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) <= 10
    """,
    doc="BM25 index CDC maintenance gate (VERDICT r9): seed index → "
    "corpus DELETE + upsert (updates + inserts) → sync_cdc consumes the "
    "change feed (O(changed) DV sidecars, no index rewrite) → replayed "
    "sync (idempotent in effect) → probe. violations pins replay-probe "
    "equality, doclens ≡ corpus count, a stable changed count, and that "
    "the probe still skips postings files. DuckDB replays BM25 over the "
    "mutated corpus — the probe is right only if stale postings left "
    "and n_docs/df/avgdl track the final corpus exactly.",
)
def bm25_index_cdc_sync_check(spark, sf_dir):
    """Index maintenance from the corpus change feed
    (operators/bm25_index.py sync_cdc): deleted/updated docs' postings
    and doclens rows leave via frame-keyed deletion vectors
    (Engine.delete_keys_dv — the index scans map-side against the
    broadcast changed-id set), postimages re-add through add_batch.
    Without it a corpus delete silently inflates n_docs/df and
    mis-scores every probe."""
    import shutil

    from polars_lake_spark.operators.bm25_index import BM25Index

    iso, eng, root = _isolated_engine(spark, "plsq_bmc_")
    try:
        docs = (
            load_table(iso, sf_dir, "documents")
            .select("doc_id", "text")
            .localCheckpoint(eager=True)
        )
        eng.create_table("corpus", docs, keys=["doc_id"], versioned=True)
        # several postings files per write (AQE would coalesce the tiny
        # test corpus to one range partition, leaving nothing to skip)
        iso.conf.set(_COALESCE, "false")
        idx = BM25Index(eng, "d")
        idx.create(eng.table("corpus"))
        v0 = eng.table_info("corpus")["version"]
        eng.sql("DELETE FROM corpus WHERE doc_id % 7 = 3")
        updates = eng.table("corpus").filter("doc_id % 5 = 1").select(
            "doc_id",
            F.concat(F.col("text"), F.lit(" merge stream")).alias("text"),
        )
        inserts = docs.filter("doc_id % 3 = 0").select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
        eng.upsert("corpus", updates.unionByName(inserts))
        stats = idx.sync_cdc("corpus", v0)
        probe1 = [
            tuple(r) for r in idx.topk(list(_BM25_TERMS), k=10).collect()
        ]
        rep = dict(eng.last_scan_report)
        stats2 = idx.sync_cdc("corpus", v0)  # replayed feed
        top = idx.topk(list(_BM25_TERMS), k=10)
        rows = top.collect()
        viol = 0
        if [tuple(r) for r in rows] != probe1:
            viol += 1  # replay changed the probe
        if stats["changed"] == 0 or stats2["changed"] != stats["changed"]:
            viol += 1
        if eng.table("d_bm25_doclens").count() != eng.table("corpus").count():
            viol += 1
        if not (0 < rep.get("files_kept", 0) < rep.get("files_total", 0)):
            viol += 1
        out = spark.createDataFrame(rows, top.schema).withColumn(
            "violations", F.lit(viol).cast("bigint")
        )
        rows2, schema = out.collect(), out.schema
        return spark.createDataFrame(rows2, schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "retrieval_eval_metrics",
    oracle="""
    WITH q AS (SELECT * FROM (VALUES
            (1, ['merge', 'vector']),
            (2, ['stream', 'filter', 'scan']),
            (3, ['slow'])) AS t(qid, terms)),
    qt AS (SELECT DISTINCT qid, unnest(terms) AS w FROM q),
    d AS (SELECT doc_id, string_split({norm}, ' ') AS ws FROM documents),
    dd AS (SELECT doc_id, len(ws) AS dl, ws FROM d),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dd),
    toks AS (SELECT doc_id, dl, unnest(ws) AS w FROM dd),
    tf AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM toks
           WHERE w IN (SELECT DISTINCT w FROM qt)
           GROUP BY doc_id, dl, w),
    dfreq AS (SELECT w, COUNT(*) AS dfreq FROM tf GROUP BY w),
    sc AS (SELECT qid, doc_id,
             ROUND(SUM(LN(1 + (n_docs - dfreq + 0.5) / (dfreq + 0.5))
                   * tf * 2.2
                   / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4)
               AS bm25
           FROM tf JOIN qt USING (w) JOIN dfreq USING (w)
           CROSS JOIN stats
           GROUP BY qid, doc_id),
    run AS (SELECT qid, doc_id, rank FROM (
        SELECT qid, doc_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY bm25 DESC, doc_id) AS rank
        FROM sc) WHERE rank <= 10),
    qr AS (SELECT qid, doc_id, rel FROM (
        SELECT qs.qid, doc_id,
               CASE WHEN (doc_id + qs.qid) % 7 = 0 THEN 2
                    WHEN (doc_id + qs.qid) % 3 = 0 THEN 1
                    ELSE 0 END AS rel
        FROM documents CROSS JOIN (SELECT qid FROM q) qs) WHERE rel > 0),
    j AS (SELECT r.qid, r.rank, COALESCE(qr.rel, 0) AS rel
          FROM run r LEFT JOIN qr ON r.qid = qr.qid
                                 AND r.doc_id = qr.doc_id),
    perq AS (SELECT qid,
               CAST(COALESCE(MAX(CASE WHEN rel > 0
                                 THEN 1000000000 // rank END), 0)
                    AS BIGINT) AS rr_e9,
               CAST(COUNT(*) FILTER (rel > 0) AS BIGINT) AS n_rel_ret,
               SUM(CASE WHEN rel > 0
                        THEN (POWER(2, rel) - 1) / LOG2(rank + 1)
                        ELSE 0 END) AS dcg
             FROM j GROUP BY qid),
    ideal AS (SELECT qid,
                CAST(COUNT(*) AS BIGINT) AS n_rel,
                SUM(CASE WHEN pos <= 10
                         THEN (POWER(2, rel) - 1) / LOG2(pos + 1)
                         ELSE 0 END) AS idcg
              FROM (SELECT qid, rel, doc_id,
                           ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY rel DESC, doc_id) AS pos
                    FROM qr)
              GROUP BY qid)
    SELECT p.qid, p.rr_e9, p.n_rel_ret,
           CAST(COALESCE(i.n_rel, 0) AS BIGINT) AS n_rel,
           CAST(1000000 * p.n_rel_ret // i.n_rel AS BIGINT) AS recall_e6,
           ROUND(p.dcg / i.idcg, 6) AS ndcg
    FROM perq p LEFT JOIN ideal i USING (qid)
    ORDER BY p.qid
    """.replace("{norm}", _NORM_SQL),
    doc="Ranked-retrieval evaluation (operators/retrieval.py:"
    "retrieval_metrics): MRR as exact integers (1e9 // first-relevant "
    "rank), exact recall counts + integer-division recall_e6, graded "
    "nDCG@10 (2^rel−1 gains, log2 discount, ideal from qrels) rounded "
    "before output. The run is a REAL bm25_batch_topk pass; qrels are "
    "deterministic ((doc_id+qid) mod rules) so DuckDB replays run AND "
    "metrics end to end.",
)
def retrieval_eval_metrics(spark, sf_dir):
    """The tuning loop for every retrieval stack: score a batch BM25
    run against graded qrels — MRR/recall integer-exact across engines,
    nDCG rounded.  qrels (the bounded human-judgment side) broadcasts
    into the run — the run is k·|Q| rows and |Q| can be millions in a
    batch eval, so it streams; the ideal ranking windows per query."""
    from polars_lake_spark.operators import retrieval as R

    docs = load_table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        [
            (1, ["merge", "vector"]),
            (2, ["stream", "filter", "scan"]),
            (3, ["slow"]),
        ],
        "qid bigint, terms array<string>",
    )
    run = R.bm25_batch_topk(
        docs, "doc_id", "text", queries, "qid", "terms", k=10
    )
    qrels = (
        docs.select("doc_id")
        .crossJoin(F.broadcast(queries.select("qid")))
        .withColumn(
            "rel",
            F.when((F.col("doc_id") + F.col("qid")) % 7 == 0, F.lit(2))
            .when((F.col("doc_id") + F.col("qid")) % 3 == 0, F.lit(1))
            .otherwise(F.lit(0)),
        )
        .filter(F.col("rel") > 0)
    )
    return R.retrieval_metrics(run, qrels, k=10).orderBy("qid")


@register(
    "apply_changes_sql_check",
    oracle="""
    WITH seed AS (SELECT doc_id, text, -1 AS seq, 0 AS dead
                  FROM documents),
    ch AS (
      SELECT doc_id, 'upd-200' AS text, 200 AS seq, 0 AS dead
      FROM documents WHERE doc_id % 5 = 0 AND doc_id % 7 <> 1
      UNION ALL
      SELECT doc_id, NULL, 200, 1 FROM documents WHERE doc_id % 7 = 1
      UNION ALL
      SELECT doc_id + 1000000, 'ins-200', 200, 0
      FROM documents WHERE doc_id % 11 = 0
      UNION ALL
      SELECT doc_id, 'stale-100', 100, 0
      FROM documents WHERE doc_id % 5 = 0 AND doc_id % 7 <> 1
      UNION ALL
      SELECT doc_id, 'res-100', 100, 0
      FROM documents WHERE doc_id % 7 = 1
      UNION ALL
      SELECT doc_id + 1000000, NULL, 100, 1
      FROM documents WHERE doc_id % 11 = 0
      UNION ALL
      SELECT doc_id, 'upd-100', 100, 0
      FROM documents
      WHERE doc_id % 3 = 2 AND doc_id % 5 <> 0 AND doc_id % 7 <> 1),
    final AS (
      SELECT doc_id, text, dead,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY seq DESC) AS rn
      FROM (SELECT * FROM seed UNION ALL SELECT * FROM ch))
    SELECT doc_id, text, CAST(0 AS BIGINT) AS violations
    FROM final WHERE rn = 1 AND dead = 0
    ORDER BY doc_id
    """,
    doc="APPLY CHANGES INTO as a SQL STATEMENT (dml.py _APPLY_CHANGES "
    "-> streaming/ingest.py apply_changes_batch): ops derived by APPLY "
    "AS DELETE WHEN (no _op column in the feed), SEQUENCE BY ordering, "
    "and the cross-batch watermark — a second statement carrying only "
    "strictly-older sequences must drop its stale updates, stale "
    "deletes, and tombstoned resurrections while its unwatermarked keys "
    "apply. DuckDB replays latest-sequence-per-key over seed + both "
    "feeds; violations pins both status frames and the tombstone count.",
)
def apply_changes_sql_check(spark, sf_dir):
    """The DLT APPLY CHANGES statement end-to-end through Engine.sql:
    same semantics as the foreachBatch form (each statement is one
    batch application), so out-of-order statements resolve by the
    in-data watermark, not arrival order."""
    import os
    import shutil
    import tempfile

    from polars_lake_spark import Engine

    root = tempfile.mkdtemp(prefix="plsq_acs_")
    try:
        eng = Engine(spark, os.path.join(root, "wh"))
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        eng.create_table(
            "tgt", docs, keys=["doc_id"], versioned=True,
            deletion_vectors=True,
        )
        d = docs.select("doc_id")

        def feed(rows):
            out = None
            for flt, shift, text, dead in rows:
                part = d.filter(flt).select(
                    (F.col("doc_id") + shift).alias("doc_id"),
                    F.lit(text).cast("string").alias("text"),
                    F.lit(dead).cast("int").alias("dead"),
                )
                out = part if out is None else out.unionByName(part)
            return out

        five = (F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 7 != 1)
        seven = F.col("doc_id") % 7 == 1
        eleven = F.col("doc_id") % 11 == 0
        three = (
            (F.col("doc_id") % 3 == 2)
            & (F.col("doc_id") % 5 != 0)
            & (F.col("doc_id") % 7 != 1)
        )
        newer = feed(
            [(five, 0, "upd-200", 0), (seven, 0, None, 1),
             (eleven, 1000000, "ins-200", 0)]
        ).withColumn("seq", F.lit(200).cast("bigint"))
        late = feed(
            [(five, 0, "stale-100", 0), (seven, 0, "res-100", 0),
             (eleven, 1000000, None, 1), (three, 0, "upd-100", 0)]
        ).withColumn("seq", F.lit(100).cast("bigint"))
        newer.createOrReplaceTempView("acs_newer")
        late.createOrReplaceTempView("acs_late")
        viol = 0
        for view in ("acs_newer", "acs_late"):
            st = eng.sql(
                f"APPLY CHANGES INTO tgt FROM {view} KEYS (doc_id) "
                "APPLY AS DELETE WHEN dead = 1 SEQUENCE BY seq"
            ).head()
            if st["operation"] != "apply_changes":
                viol += 1
            if st["n_affected"] != spark.table(view).count():
                viol += 1
        # tombstones: exactly the APPLIED deletes (seq-200 %7 keys);
        # the late stale deletes were watermark-dropped
        if eng.table("tgt_cdc_tombstones").count() != d.filter(seven).count():
            viol += 1
        out = (
            eng.table("tgt")
            .select(
                "doc_id",
                "text",
                F.lit(viol).cast("bigint").alias("violations"),
            )
            .orderBy("doc_id")
        )
        rows, schema = out.collect(), out.schema
        return spark.createDataFrame(rows, schema)
    finally:
        spark.catalog.dropTempView("acs_newer")
        spark.catalog.dropTempView("acs_late")
        shutil.rmtree(root, ignore_errors=True)


@register(
    "scd2_truncate_check",
    oracle="""
    WITH hist AS (
      -- seeds: closed at their key's first change (100 for %3 keys),
      -- else at the truncate (200)
      SELECT doc_id, text, CAST(NULL AS BIGINT) AS __start_seq,
             CAST(CASE WHEN doc_id % 3 = 0 THEN 100 ELSE 200 END
                  AS BIGINT) AS __end_seq
      FROM documents
      UNION ALL
      -- batch-1 updates: open until the truncate closes them at 200
      SELECT doc_id, 'pre-100', CAST(100 AS BIGINT), CAST(200 AS BIGINT)
      FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      -- post-truncate updates: open, unless the late 300 change chains
      SELECT doc_id, 'post-250', CAST(250 AS BIGINT),
             CAST(CASE WHEN doc_id % 6 = 0 THEN 300 ELSE NULL END
                  AS BIGINT)
      FROM documents WHERE doc_id % 4 = 0
      UNION ALL
      SELECT doc_id, 'late-300', CAST(300 AS BIGINT),
             CAST(NULL AS BIGINT)
      FROM documents WHERE doc_id % 6 = 0)
    SELECT doc_id, text, __start_seq, __end_seq,
           CAST(0 AS BIGINT) AS violations
    FROM hist
    ORDER BY doc_id, __start_seq NULLS FIRST
    """,
    doc="SCD2 full-refresh gate (r14 — streaming/ingest.py:"
    "_apply_truncates_scd2): a keyless 'truncate' op at seq 200 CLOSES "
    "every open version below it (seeds and the batch-1 'pre-100' "
    "rows), history preserved; the same batch's pre-truncate straggler "
    "(150 on %5 keys) and a LATE batch's 180 change drop against the "
    "persisted cdc_meta floor; changes at/after the floor (250, 300) "
    "open fresh versions chained normally. DuckDB replays the closed "
    "form. violations pins the ≤1-open-row-per-key invariant and the "
    "stored floor value.",
)
def scd2_truncate_check(spark, sf_dir):
    """Full-refresh feeds on a TYPE 2 dimension: the close is one
    filter on __end_seq IS NULL + an O(open rows) keyed upsert — the
    inherent cost of a refresh; no per-key probe applies because a
    truncate touches every key by definition."""
    import os
    import shutil
    import tempfile

    from polars_lake_spark import Engine
    from polars_lake_spark.streaming.ingest import (
        apply_changes_scd2_batch,
        scd2_init,
    )

    root = tempfile.mkdtemp(prefix="plsq_scd2tr_")
    try:
        eng = Engine(spark, os.path.join(root, "wh"))
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        scd2_init(eng, "tr", docs, keys=["doc_id"], versioned=True)
        d = docs.select("doc_id")

        def ch(pred, text, op, seq):
            return d.filter(pred).select(
                "doc_id",
                F.lit(text).cast("string").alias("text"),
                F.lit(op).alias("_op"),
                F.lit(seq).cast("bigint").alias("seq"),
            )

        b1 = ch(F.col("doc_id") % 3 == 0, "pre-100", "update", 100)
        b2 = (
            spark.range(1)
            .select(
                F.lit(None).cast("bigint").alias("doc_id"),
                F.lit(None).cast("string").alias("text"),
                F.lit("truncate").alias("_op"),
                F.lit(200).cast("bigint").alias("seq"),
            )
            .unionByName(
                ch(F.col("doc_id") % 5 == 0, "straggler", "update", 150)
            )
            .unionByName(
                ch(F.col("doc_id") % 4 == 0, "post-250", "update", 250)
            )
        )
        b3 = ch(F.col("doc_id") % 7 == 0, "late-180", "update", 180).unionByName(
            ch(F.col("doc_id") % 6 == 0, "late-300", "update", 300)
        )
        for b in (b1, b2, b3):
            apply_changes_scd2_batch(eng, "tr", b, "seq")
        hist = eng.table("tr")
        viol = 0
        if (
            hist.filter(F.col("__end_seq").isNull())
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .head(1)
        ):
            viol += 1
        floor = eng.table("tr_cdc_meta").head()
        if floor is None or floor["__seq"] != 200:
            viol += 1
        out = hist.select(
            "doc_id",
            "text",
            "__start_seq",
            "__end_seq",
            F.lit(viol).cast("bigint").alias("violations"),
        )
        rows, schema = out.collect(), out.schema
        return spark.createDataFrame(rows, schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "column_mapping_check",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN 'redacted' ELSE text END AS body,
           CASE WHEN doc_id % 7 = 0 THEN 'xx' END AS lang,
           n_chars,
           CAST(0 AS BIGINT) AS violations
    FROM documents
    UNION ALL
    SELECT doc_id + 1000000, upper(text), NULL, n_chars, CAST(0 AS BIGINT)
    FROM documents
    ORDER BY doc_id
    """,
    doc="Metadata-only column DDL gate (r14 — engine.rename_column/"
    "drop_columns/add_column/alter_column_type, snapshots."
    "commit_schema_change): RENAME text->body, WIDEN n_chars "
    "int->bigint (oracle schema match pins the conformed type), "
    "append a post-rename era, DROP lang, re-ADD lang "
    "(pre-drop values must NOT resurrect — every old row reads NULL), "
    "then upsert through the renamed schema. violations pins that the "
    "three DDLs moved ZERO data files (write-dir set unchanged across "
    "them) and committed as 'alter' snapshots. DuckDB replays the "
    "closed form.",
)
def column_mapping_check(spark, sf_dir):
    """At 100 TB a RENAME/DROP/ADD COLUMN is one JSON snapshot commit —
    no rewrite; reads translate each immutable write dir's era names
    forward and zone-map probes reverse-translate (era-fenced so a
    re-added name never consults the dropped column's stats)."""
    import os
    import shutil
    import tempfile

    from polars_lake_spark import Engine

    root = tempfile.mkdtemp(prefix="plsq_colmap_")
    try:
        eng = Engine(spark, os.path.join(root, "wh"))
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "n_chars"
        )
        eng.create_table(
            "cm",
            docs.withColumn("n_chars", F.col("n_chars").cast("int")),
            keys=["doc_id"],
            versioned=True,
        )

        def wdirs():
            p = os.path.join(eng.root, "cm", "data")
            return {d for d in os.listdir(p) if d.startswith("w")}

        before = wdirs()
        eng.sql("ALTER TABLE cm RENAME COLUMN text TO body")
        # type widening (int -> bigint) is metadata too; the oracle's
        # BIGINT n_chars pins the conformed read type via schema match
        eng.sql("ALTER TABLE cm ALTER COLUMN n_chars TYPE bigint")
        viol = 0 if wdirs() == before else 1
        eng.insert(
            "cm",
            docs.select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.upper("text").alias("body"),
                F.lit("aa").alias("lang"),
                "n_chars",
            ),
        )
        before = wdirs()
        eng.sql("ALTER TABLE cm DROP COLUMN lang")
        eng.sql("ALTER TABLE cm ADD COLUMN lang string")
        if wdirs() != before:
            viol += 1
        if [h["op"] for h in eng.history("cm")].count("alter") != 4:
            viol += 1
        eng.upsert(
            "cm",
            docs.filter(F.col("doc_id") % 7 == 0).select(
                "doc_id",
                F.lit("redacted").alias("body"),
                F.lit("xx").alias("lang"),
            ),
        )
        out = eng.table("cm").select(
            "doc_id",
            "body",
            "lang",
            "n_chars",
            F.lit(viol).cast("bigint").alias("violations"),
        )
        rows, schema = out.collect(), out.schema
        return spark.createDataFrame(rows, schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "identity_check",
    oracle="""
    WITH twice AS (
      SELECT 1 AS one FROM documents UNION ALL SELECT 1 FROM documents)
    SELECT CAST(row_number() OVER () AS BIGINT) AS row_id,
           CAST(0 AS BIGINT) AS violations
    FROM twice
    ORDER BY row_id
    """,
    doc="IDENTITY column gate (r14 — engine._assign_identity, hwm in "
    "snapshot meta['identity']): two inserts into a GENERATED ALWAYS "
    "AS IDENTITY table must yield EXACTLY the contiguous id range "
    "1..2n with the second batch's ids strictly above the first's "
    "(ranges never interleave or re-issue), surviving an interleaved "
    "upsert-rewrite that would have dropped the high-water mark. "
    "violations additionally pins batch ordering, the persisted hwm "
    "value, and ALWAYS-refusal of provided ids.",
)
def identity_check(spark, sf_dir):
    """Contiguous distributed assignment: ONE O(partitions) count job
    computes per-partition offsets (driver collect of partition COUNTS,
    never rows), ids are start + step * (offset + rank-in-partition)
    via a per-partition window — no global shuffle at any scale; the
    high-water mark commits atomically with the rows that consumed it."""
    import os
    import shutil
    import tempfile

    from polars_lake_spark import Engine

    root = tempfile.mkdtemp(prefix="plsq_ident_")
    try:
        eng = Engine(spark, os.path.join(root, "wh"))
        docs = load_table(spark, sf_dir, "documents").select(
            F.col("text").alias("t1")
        )
        n = docs.count()
        eng.create_table(
            "idt",
            docs.select(F.col("t1").alias("text"), F.lit("b1").alias("b")),
            keys=["row_id"],
            versioned=True,
            identity={"row_id": {"start": 1, "step": 1}},
        )
        # an upsert commits a rewrite — the hwm must survive it
        eng.upsert(
            "idt",
            spark.createDataFrame(
                [(1, "updated", "b1")], "row_id bigint, text string, b string"
            ),
        )
        eng.insert(
            "idt",
            docs.select(F.col("t1").alias("text"), F.lit("b2").alias("b")),
        )
        t = eng.table("idt")
        viol = 0
        agg = t.groupBy("b").agg(
            F.min("row_id").alias("lo"), F.max("row_id").alias("hi")
        )
        rng = {r["b"]: (r["lo"], r["hi"]) for r in agg.collect()}
        if not (rng["b1"][1] < rng["b2"][0]):  # batch ranges never overlap
            viol += 1
        hwm = (eng._snapstore("idt").load().meta or {}).get("identity", {})
        if hwm.get("row_id") != 2 * n + 1:
            viol += 1
        try:  # ALWAYS: providing the column refuses
            eng.insert(
                "idt",
                spark.createDataFrame(
                    [(999, "x", "b3")], "row_id bigint, text string, b string"
                ),
            )
            viol += 1
        except ValueError:
            pass
        out = t.select(
            "row_id", F.lit(viol).cast("bigint").alias("violations")
        )
        rows, schema = out.collect(), out.schema
        return spark.createDataFrame(rows, schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "cdc_feed_check",
    oracle="""
    SELECT doc_id, text AS body, 'insert' AS _change_type,
           CAST(1 AS BIGINT) AS _commit_version
    FROM documents
    UNION ALL
    SELECT doc_id + 1000000, upper(text), 'insert', CAST(2 AS BIGINT)
    FROM documents
    UNION ALL
    SELECT doc_id, '<<redacted>>', 'update', CAST(3 AS BIGINT)
    FROM documents WHERE doc_id % 7 = 0
    UNION ALL
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN '<<redacted>>' ELSE text END,
           'delete', CAST(4 AS BIGINT)
    FROM documents WHERE doc_id % 11 = 0
    ORDER BY _commit_version, doc_id
    """,
    doc="Per-version change feed gate (r14 — engine.table_changes, the "
    "Delta CDF readChangeFeed analog): from_version=0 surfaces the "
    "initial snapshot as version-1 inserts, an append commit emits its "
    "new rows (scanning ONLY its new write dir — the fast path), an "
    "upsert emits updates, a delete emits the deleted rows' last "
    "values, each tagged _commit_version. DuckDB replays the closed "
    "form commit by commit.",
)
def cdc_feed_check(spark, sf_dir):
    """Feed cost is proportional to what each commit changed, not to
    the table: append versions never open pre-existing files, replace
    versions diff only the partitions whose write-dir lists moved."""
    import os
    import shutil
    import tempfile

    from polars_lake_spark import Engine

    root = tempfile.mkdtemp(prefix="plsq_cdf_")
    try:
        eng = Engine(spark, os.path.join(root, "wh"))
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", F.col("text").alias("body")
        )
        eng.create_table("f", docs, keys=["doc_id"], versioned=True)
        eng.insert(
            "f",
            docs.select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.upper("body").alias("body"),
            ),
        )
        eng.upsert(
            "f",
            docs.filter(F.col("doc_id") % 7 == 0).select(
                "doc_id", F.lit("<<redacted>>").alias("body")
            ),
        )
        eng.delete(
            "f",
            docs.filter(F.col("doc_id") % 11 == 0).select("doc_id"),
            ["doc_id"],
        )
        out = eng.table_changes("f", 0).select(
            "doc_id", "body", "_change_type", "_commit_version"
        )
        rows, schema = out.collect(), out.schema
        return spark.createDataFrame(rows, schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)
