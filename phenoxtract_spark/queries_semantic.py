"""Oracle-checked semantic-dedup / fuzzy-match / data-mixing queries:
SemDeDup-style canonical selection over embedding clusters, embedding-space
decontamination, edit-distance near-dup pairs with prefix blocking, and
deterministic weighted source mixing.

Cross-engine discipline: cosines round in-query on both sides before any
threshold; Levenshtein is the classic unit-cost edit distance in both
engines; md5-bucket sampling replays bit-identically in SQL.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import clustering, curation, dedup
from .queries_core import q, read_table, table_num_rows

# Shared DuckDB CTE prelude: embeddings unnested to (vec_id, i, x) plus
# per-vector L2 norms — the base relations every embedding oracle builds on.
_VX_SQL = """
    idx AS (SELECT unnest(generate_series(1, 64)) AS i),
    vx AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x FROM embeddings, idx),
    norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM vx GROUP BY vec_id)
"""

# IVF bucket assignment by max-cosine centroid (stride slice), mirroring
# similarity.assign_ivf_centroid — emits assign(id, cid).
_ASSIGN_SQL = """
    cen AS (SELECT vec_id AS cid FROM embeddings
            WHERE vec_id % (SELECT greatest(61, CAST(floor(sqrt(count(*))) AS BIGINT))
                            FROM embeddings) = 0),
    adots AS (
      SELECT v.vec_id AS id, c.cid,
             round(sum(v.x * cv.x) / (nv.nrm * nc.nrm), 6) AS cos
      FROM vx v
      JOIN cen c ON true
      JOIN vx cv ON cv.vec_id = c.cid AND cv.i = v.i
      JOIN norms nv ON nv.vec_id = v.vec_id
      JOIN norms nc ON nc.vec_id = c.cid
      GROUP BY v.vec_id, c.cid, nv.nrm, nc.nrm
    ),
    assign AS (
      SELECT id, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY id ORDER BY cos DESC, cid) AS rn
        FROM adots) WHERE rn = 1
    )
"""


@q(
    "dedup_semantic_canonical",
    "WITH "
    + _VX_SQL
    + ","
    + _ASSIGN_SQL
    + """,
    pair AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM assign a JOIN assign b ON a.cid = b.cid AND a.id < b.id
    ),
    pdots AS (
      SELECT p.id_a, p.id_b, sum(a.x * b.x) AS dot
      FROM pair p
      JOIN vx a ON a.vec_id = p.id_a
      JOIN vx b ON b.vec_id = p.id_b AND b.i = a.i
      GROUP BY 1, 2
    ),
    dup AS (
      SELECT id_a, id_b
      FROM pdots JOIN norms na ON na.vec_id = id_a
                 JOIN norms nb ON nb.vec_id = id_b
      WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.4
    ),
    mates AS (
      SELECT id_a AS id, id_b AS mate FROM dup
      UNION ALL SELECT id_b, id_a FROM dup
    ),
    best AS (SELECT id, min(mate) AS m FROM mates GROUP BY id)
    SELECT e.vec_id,
           least(e.vec_id, coalesce(b.m, e.vec_id)) AS canonical_id,
           least(e.vec_id, coalesce(b.m, e.vec_id)) < e.vec_id AS is_duplicate
    FROM embeddings e LEFT JOIN best b ON e.vec_id = b.id
    """,
)
def semantic_canonical(spark, sf_dir):
    """SemDeDup-style semantic dedup: IVF-cluster the embeddings
    (√n centroids, broadcast), cosine-verify pairs ONLY within a cluster,
    then map every vector to the smallest id among its semantic mates.
    Output is one row per vector — the keep/drop decision a curation
    pipeline consumes directly.  Pairs are scored by the shared
    ``similarity.bucket_pair_verify`` kernel."""
    import math

    e = read_table(spark, sf_dir, "embeddings")
    stride = max(61, int(math.isqrt(table_num_rows(sf_dir, "embeddings"))))
    centroids = e.filter(F.col("vec_id") % stride == 0)
    return clustering.semantic_canonical(e, centroids, threshold=0.4)


@q(
    "curation_embedding_decontaminate",
    "WITH "
    + _VX_SQL
    + """,
    b AS (SELECT vec_id,
                 ('0x' || substr(md5('decon-v1::' || CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
                 % 10000 AS bk
          FROM embeddings),
    te AS (SELECT vec_id FROM b WHERE bk < 1000),
    tr AS (SELECT vec_id FROM b WHERE bk >= 1000),
    dots AS (
      SELECT t.vec_id AS train_id, s.vec_id AS test_id, sum(a.x * c.x) AS dot
      FROM tr t JOIN te s ON true
      JOIN vx a ON a.vec_id = t.vec_id
      JOIN vx c ON c.vec_id = s.vec_id AND c.i = a.i
      GROUP BY 1, 2
    ),
    cs AS (
      SELECT train_id, round(dot / (na.nrm * nb.nrm), 6) AS cos
      FROM dots JOIN norms na ON na.vec_id = train_id
                JOIN norms nb ON nb.vec_id = test_id
    )
    SELECT train_id, max(cos) AS max_cos, count(*) AS n_test_hits
    FROM cs WHERE cos >= 0.4 GROUP BY train_id
    """,
)
def embedding_decontaminate(spark, sf_dir):
    """Embedding-space train/test decontamination: a deterministic 10%
    md5-bucket of the vectors is the held-out side (broadcast); training
    vectors with cosine ≥ 0.4 to any held-out vector are flagged with
    their max similarity and hit count."""
    e = read_table(spark, sf_dir, "embeddings")
    bucket = curation.split_bucket("vec_id", "decon-v1")
    test = e.filter(bucket < 1000)
    train = e.filter(bucket >= 1000)
    return curation.embedding_decontaminate(train, test, threshold=0.4)


@q(
    "dedup_levenshtein_pairs",
    """
    WITH norm AS (
      SELECT doc_id,
             lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
      FROM documents
    ),
    blocked AS (
      SELECT doc_id, substring(t, 1, 80) AS t, substring(t, 1, 12) AS blk
      FROM norm
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.t, b.t) AS BIGINT) AS lev
    FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE levenshtein(a.t, b.t) <= 8
    """,
)
def levenshtein_pairs(spark, sf_dir):
    """Edit-distance near-dup pairs with prefix blocking: Σ|block|² pairs
    (never corpus²), bounded-prefix distance so per-pair cost is
    independent of document length."""
    d = read_table(spark, sf_dir, "documents")
    return dedup.levenshtein_block_pairs(
        d, "doc_id", "text", block_chars=12, cmp_chars=80, max_dist=8
    )


@q(
    "curation_source_mix",
    """
    WITH r AS (
      SELECT doc_id, source,
             CAST(CASE WHEN CAST(regexp_extract(source, '(\\d+)', 1) AS INTEGER) % 2 = 0
                       THEN 0.5 ELSE 0.25 END AS DOUBLE) AS rate
      FROM documents
    )
    SELECT doc_id, source, rate
    FROM r
    WHERE ('0x' || substr(md5('mix-v1::' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
          % 10000 < CAST(floor(rate * 10000) AS BIGINT)
    """,
)
def source_mix(spark, sf_dir):
    """Deterministic weighted source mixing: even-numbered sources sample
    at 50%, odd at 25%, via the md5-bucket primitive — the training-recipe
    mixer, reproducible under any cluster layout."""
    d = read_table(spark, sf_dir, "documents")
    rate = (
        F.when(
            F.regexp_extract(F.col("source"), r"(\d+)", 1).cast("int") % 2 == 0,
            F.lit(0.5),
        )
        .otherwise(F.lit(0.25))
        .cast("double")
    )
    return curation.weighted_sample(d, "doc_id", rate).select(
        "doc_id", "source", "rate"
    )


@q(
    "curation_clean_pipeline",
    """
    WITH norm AS (
      SELECT doc_id, source,
             lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
      FROM documents
    ),
    feat AS (
      SELECT doc_id, source, t, CAST(length(t) AS BIGINT) AS n_chars,
             round(CAST(length(regexp_replace(t, '[^a-z ]', '', 'g')) AS DOUBLE)
                   / CAST(length(t) AS DOUBLE), 6) AS alpha_ratio
      FROM norm WHERE length(t) > 0
    ),
    kept AS (
      SELECT * FROM feat WHERE n_chars BETWEEN 50 AND 20000 AND alpha_ratio >= 0.6
    ),
    canon AS (
      SELECT md5(t) AS digest, min(doc_id) AS keep_id FROM kept GROUP BY md5(t)
    ),
    deduped AS (
      SELECT k.doc_id, k.source, k.n_chars, k.alpha_ratio
      FROM kept k JOIN canon c ON md5(k.t) = c.digest AND k.doc_id = c.keep_id
    )
    SELECT doc_id, source, n_chars, alpha_ratio,
           CASE WHEN ('0x' || substr(md5('split-v1::' || CAST(doc_id AS VARCHAR)),
                                     1, 8))::BIGINT % 10000 < 8000 THEN 'train'
                WHEN ('0x' || substr(md5('split-v1::' || CAST(doc_id AS VARCHAR)),
                                     1, 8))::BIGINT % 10000 < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM deduped
    """,
)
def curation_clean_pipeline(spark, sf_dir):
    """End-to-end corpus cleaning as ONE composed query — the C4-style
    recipe a training-data pipeline runs: normalize → quality-gate
    (length + alphabetic ratio) → exact-dedup canonical (md5 digest, min
    id) → deterministic train/val/test split.  Every stage is built-in
    expressions; the only shuffles are the digest groupBy and its
    keep-id join.  Demonstrates that the curation operators compose
    without materialization barriers — Catalyst pipelines the whole
    chain into three stages."""
    from .operators.dedup import normalized_text

    d = read_table(spark, sf_dir, "documents")
    t = normalized_text(F.col("text"))
    feat = d.select(
        "doc_id",
        "source",
        t.alias("_t"),
        F.length(t).cast("bigint").alias("n_chars"),
        F.round(
            F.length(F.regexp_replace(t, "[^a-z ]", "")).cast("double")
            / F.length(t).cast("double"),
            6,
        ).alias("alpha_ratio"),
    ).filter(F.length(F.col("_t")) > 0)
    kept = feat.filter(
        F.col("n_chars").between(50, 20000) & (F.col("alpha_ratio") >= 0.6)
    )
    canon = (
        kept.groupBy(F.md5(F.col("_t")).alias("_digest"))
        .agg(F.min("doc_id").alias("_keep_id"))
    )
    deduped = kept.join(
        canon,
        (F.md5(F.col("_t")) == F.col("_digest"))
        & (F.col("doc_id") == F.col("_keep_id")),
    )
    out = curation.dataset_split(deduped, "doc_id")
    return out.select("doc_id", "source", "n_chars", "alpha_ratio", "split")


@q(
    "dedup_ngram_containment",
    """
    WITH toks AS (
      SELECT doc_id,
             string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS sh
      FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS u(i)
    ),
    seeded AS (
      SELECT doc_id, s.seed, md5(CAST(s.seed AS VARCHAR) || '|' || sh) AS h
      FROM sh, (SELECT unnest(generate_series(0, 3)) AS seed) s
    ),
    sig AS (SELECT doc_id AS id, seed, min(h) AS minhash FROM seeded GROUP BY 1, 2),
    bands AS (
      SELECT id, seed // 2 AS band,
             md5(array_to_string(list_sort(list(CAST(seed AS VARCHAR) || ':' || minhash)), '|')) AS band_key
      FROM sig GROUP BY id, seed // 2
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id
    ),
    dsh AS (SELECT DISTINCT doc_id, sh FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY 1),
    common AS (
      SELECT c.id_a, c.id_b, count(*) AS c
      FROM cand c
      JOIN dsh a ON a.doc_id = c.id_a
      JOIN dsh b ON b.doc_id = c.id_b AND b.sh = a.sh
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(CAST(c AS DOUBLE) / least(sa.n, sb.n), 6) AS containment
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(CAST(c AS DOUBLE) / least(sa.n, sb.n), 6) >= 0.2
    """,
)
def ngram_containment(spark, sf_dir):
    """Containment verify fed by the same LSH candidates as the Jaccard
    path: catches subset-duplication (a doc quoted inside a longer one)
    that the union-normalized Jaccard score dilutes.  Cost ∝ |candidates|."""
    d = read_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signature(d, "doc_id", "text", num_hashes=4, k=3)
    cand = dedup.lsh_candidate_pairs(dedup.lsh_bands(sig, rows_per_band=2))
    return dedup.ngram_containment_pairs(
        d, "doc_id", "text", k=3, threshold=0.2, candidates=cand
    )


@q(
    "curation_cluster_balanced_sample",
    "WITH "
    + _VX_SQL
    + ","
    + _ASSIGN_SQL
    + """,
    sizes AS (SELECT cid, CAST(count(*) AS BIGINT) AS cluster_size
              FROM assign GROUP BY cid),
    ranked AS (
      SELECT id, cid,
             CAST(row_number() OVER (
               PARTITION BY cid
               ORDER BY md5('cbs-v1|' || CAST(id AS VARCHAR)), id
             ) AS BIGINT) AS rank
      FROM assign
    )
    SELECT r.id AS vec_id, r.cid AS centroid_id, s.cluster_size,
           CAST(ceil(sqrt(CAST(s.cluster_size AS DOUBLE))) AS BIGINT) AS quota,
           r.rank
    FROM ranked r JOIN sizes s USING (cid)
    WHERE r.rank <= ceil(sqrt(CAST(s.cluster_size AS DOUBLE)))
    """,
)
def cluster_balanced_sample_q(spark, sf_dir):
    """Cluster-balanced √-quota downsample over the embeddings: flatten
    head clusters, keep tails — the diversity-preserving selection step
    between semantic dedup and mixture weighting.  Deterministic
    md5-order draw within each cluster; same broadcast-centroid
    assignment kernel (and oracle fragment) as the SemDeDup query.
    See operators/clustering.py:cluster_balanced_sample."""
    import math

    e = read_table(spark, sf_dir, "embeddings")
    stride = max(61, int(math.isqrt(table_num_rows(sf_dir, "embeddings"))))
    centroids = e.filter(F.col("vec_id") % stride == 0)
    return clustering.cluster_balanced_sample(e, centroids)
