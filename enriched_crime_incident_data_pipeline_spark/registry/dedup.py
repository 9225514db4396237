"""Deduplication family (dd*): exact, MinHash/LSH, SimHash, n-gram Jaccard, embedding near-dup, segment/CDC/intra-doc dedup.

Split out of registry.py (r6); function bodies unchanged. ``QUERIES``
and ``ORACLES`` are assembled into the full registry by
``registry/__init__.py``.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (embedding_near_dup_pairs, exact_duplicate_groups, lsh_candidate_pairs, minhash_bands, ngram_jaccard_pairs, simhash_signatures)
from enriched_crime_incident_data_pipeline_spark.functions.text import token_count, tokens
from enriched_crime_incident_data_pipeline_spark.session import local_frame
from enriched_crime_incident_data_pipeline_spark.sources.catalog import load_table

from enriched_crime_incident_data_pipeline_spark.registry._shared import (
    _BAND_TERMS,
    _COS,
    _HASH32,
    _MINHASH_BANDS_SQL,
    _MINHASH_TERMS,
    _NORM,
    _SHINGLES3,
    _SIMHASH_BITS,
    _SIMHASH_SUM_TERMS,
    _TOKENS,
    _TOKEN_COUNT,
)




# ---------------------------------------------------------------------------
# datapipe: dedup / text analysis / similarity search
# ---------------------------------------------------------------------------


def q_dd1_exact_dedup(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return exact_duplicate_groups(docs)


def q_dd2_minhash_bands(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    # internal band_hash is 16-byte binary (shuffle-lean); re-encode
    # as the md5 hex string at the output boundary for the oracle
    return minhash_bands(docs).withColumn(
        "band_hash", F.lower(F.hex(F.col("band_hash")))
    )


def q_dd3_lsh_pairs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return lsh_candidate_pairs(minhash_bands(docs))


def q_dd4_simhash(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return simhash_signatures(docs)


def q_dd5_ngram_jaccard(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, top_k=20)


def q_dd5b_ngram_capped(spark, sf_dir):
    # df-capped variant: shingles with document frequency > 50 are
    # pruned before the self-join — the 100 TB skew guard (a stop-word
    # shingle is one hot key with quadratic fan-out). Denominators
    # still count all shingles, but the intersection counts only
    # surviving shingles, so a surviving pair's jaccard is a lower
    # bound on the unpruned value (exact only when the pair shared no
    # pruned shingle).
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, top_k=20, max_df=50)


def q_dd27_jaccard_threshold_curve(spark, sf_dir):
    # the near-dup THRESHOLD sizing artifact (r10; dd23 is the
    # semdedup/cosine analogue): how many verified pairs a dedup pass
    # drops at Jaccard >= 0.5 / 0.7 / 0.9 — the knob that trades
    # recall against false merges. ONE verified-pair relation (dd19's
    # machinery: banded LSH candidates -> exact shingle Jaccard on
    # candidates only, never the corpus²), then every threshold is a
    # conditional cell of ONE 1-row aggregate, compared in EXACT
    # integer arithmetic (jaccard >= P/Q  <=>  intersect·Q >=
    # union·P — no float thresholds to pin), stack-unpivoted to the
    # 3-row curve with each threshold's share of the candidate set.
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        lsh_candidate_pairs,
        minhash_bands,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    cand = (
        lsh_candidate_pairs(minhash_bands(docs))
        .select("a", "b")
        .distinct()
        .localCheckpoint(eager=True)
    )
    ids = (
        cand.select(F.col("a").alias("doc_id"))
        .union(cand.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    pruned = docs.join(ids, "doc_id", "left_semi")
    vp = ngram_jaccard_pairs(pruned).join(F.broadcast(cand), ["a", "b"])
    thresholds = [(5000, 1, 2), (7000, 7, 10), (9000, 9, 10)]
    cells = [F.count(F.lit(1)).cast("bigint").alias("n_candidates")]
    for bp, p, q in thresholds:
        cells.append(
            F.sum(
                (
                    F.col("intersect_size") * F.lit(q)
                    >= F.col("union_size") * F.lit(p)
                ).cast("int")
            )
            .cast("bigint")
            .alias(f"np_{bp}")
        )
    one = vp.agg(*cells)
    return one.select(
        F.expr(
            "stack(3, "
            + ", ".join(f"{bp}, np_{bp}" for bp, _p, _q in thresholds)
            + ") AS (threshold_bp, n_pairs)"
        ),
        "n_candidates",
    ).select(
        F.col("threshold_bp").cast("int").alias("threshold_bp"),
        "n_pairs",
        "n_candidates",
        F.expr(
            "CAST(CASE WHEN n_candidates = 0 THEN 0"
            " ELSE (n_pairs * 10000) DIV n_candidates END AS BIGINT)"
        ).alias("share_of_candidates_bp"),
    )


def q_dd19_lsh_verified(spark, sf_dir):
    # the canonical MinHash pipeline ENDING: banded LSH proposes
    # candidate pairs (recall set, never all-pairs), exact shingle
    # Jaccard verifies ONLY those — the shingle self-join is
    # restricted to docs appearing in some candidate pair (left-semi
    # prune), and the pair relation filters to the candidate list
    # (broadcast inner join), so the expensive exact intersection
    # touches candidates ∪ their docs, not the corpus².
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        lsh_candidate_pairs,
        minhash_bands,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    cand = (
        lsh_candidate_pairs(minhash_bands(docs))
        .select("a", "b")
        .distinct()
        .localCheckpoint(eager=True)
    )
    ids = (
        cand.select(F.col("a").alias("doc_id"))
        .union(cand.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    pruned = docs.join(ids, "doc_id", "left_semi")
    pairs = ngram_jaccard_pairs(pruned)
    return (
        pairs.join(F.broadcast(cand), ["a", "b"])
        .filter(F.col("jaccard") >= 0.5)
        .select("a", "b", "intersect_size", "union_size", "jaccard")
    )


def q_dd6_embed_cosine(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, threshold=0.4)


def q_dd7_embed_blocked(spark, sf_dir):
    # IVF-blocked variant: intra-cluster pairs only (the 100 TB path)
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, threshold=0.3, block_clusters=16)



def q_dd23_threshold_sweep(spark, sf_dir):
    # the threshold-tuning artifact a semantic-dedup rollout is
    # decided on (tok8's compression curve, for dd14): duplicate
    # pair count and documents-affected at each candidate cosine
    # threshold, ALL from ONE blocked pair relation (computed at the
    # loosest threshold and lazily checkpointed — 4 consumers would
    # re-derive the IVF-blocked scoring join otherwise). Each sweep
    # point is a conditional aggregate over the candidate-pair
    # relation (pairs-sized, never corpus-sized); docs_affected is a
    # distinct over the pairs that survive that threshold. Cosine is
    # bit-identical cross-engine by the dd6/dd7 ordered-fold
    # contract, so the literal threshold comparisons agree exactly.
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(
        emb, threshold=0.2, block_clusters=16
    ).localCheckpoint(eager=False)
    outs = []
    for t_bp, t in [(2000, 0.2), (3000, 0.3), (4000, 0.4),
                    (5000, 0.5), (7000, 0.7)]:
        surv = pairs.filter(F.col("cosine") >= F.lit(t))
        docs = (
            surv.select(F.explode(F.array("a", "b")).alias("d"))
            .agg(F.countDistinct("d").cast("bigint").alias("docs_affected"))
        )
        outs.append(
            surv.agg(
                F.lit(t_bp).cast("int").alias("threshold_bp"),
                F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            ).crossJoin(F.broadcast(docs))
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def q_dd14_semdedup(spark, sf_dir):
    # SemDeDup (Abbas et al. 2023): IVF-cluster the embedding space,
    # take intra-cluster pairs with cosine >= 0.3 (the dd7 blocked
    # pair generator — never a full-corpus product), connected-
    # components the pair graph, keep the lowest-id representative
    # per semantic-duplicate group, and emit the drop list
    # (vec_id, rep_id) a corpus prune deletes.
    from enriched_crime_incident_data_pipeline_spark.datapipe.clusters import (
        dup_clusters,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(emb, threshold=0.3, block_clusters=16)
    cl = dup_clusters(
        emb.select(F.col("vec_id").alias("doc_id")),
        pairs.select("a", "b"),
        id_col="doc_id",
    )
    return cl.filter(~F.col("is_canonical")).select(
        F.col("doc_id").alias("vec_id"),
        F.col("cluster_id").alias("rep_id"),
    )


def q_dd8_simhash_pairs(spark, sf_dir):
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        simhash_near_dup_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(docs, max_hamming=3)


def q_dd8b_simhash_wide(spark, sf_dir):
    # uniform-tail-honest twin of dd8: 32-bit bands + radius-1
    # multi-probe (Manku-style) — same output contract (both are
    # COMPLETE Hamming<=3 candidate generators over the same
    # signatures, then the same exact bit_count(xor) filter), so the
    # two share one oracle; expected uniform-tail candidates per band
    # drop n^2/2^16 -> n^2/2^32 for a 16x probe-row constant. See
    # datapipe/dedup.py:simhash_near_dup_pairs_wide and SCALING.md
    # (r8) for the measured candidate-count table.
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        simhash_near_dup_pairs_wide,
    )

    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs_wide(docs, max_hamming=3, band_bits=32)



def q_dd15_containment(spark, sf_dir):
    # asymmetric near-dup: shingle containment |A∩B|/|A| — catches a
    # short doc quoted inside a long one (containment 1.0, Jaccard
    # tiny); same single shingle-hash equi-join plan as dd5
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        ngram_containment_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return ngram_containment_pairs(docs, min_containment=0.5)



def q_dd16_minhash_estimate(spark, sf_dir):
    # the LSH report card: for every candidate pair, the MinHash
    # Jaccard ESTIMATE (fraction of agreeing minima — exact int
    # ratio) next to the true shingle Jaccard. Signatures map-only;
    # the only joins are the band bucket join and two broadcast
    # signature lookups.
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        bands_from_sigs,
        minhash_sigs,
    )

    docs = load_table(spark, sf_dir, "documents")
    # r10: ONE signature pass — the raw signatures are pinned and
    # BOTH the banding (candidate join) and the two broadcast
    # signature lookups read the pinned relation, instead of the
    # tokenize→hash→minima chain running once for the bands and
    # again for the lookups (same bits: bands_from_sigs is
    # minhash_bands' banding half)
    sigs = minhash_sigs(docs).localCheckpoint(eager=True)
    pairs = lsh_candidate_pairs(bands_from_sigs(sigs), pin=False)
    sa = sigs.select(
        F.col("doc_id").alias("a"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(16)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("b"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(16)],
    )
    n_match = sum(
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("int") for j in range(16)
    )
    est = pairs.join(F.broadcast(sa), "a").join(F.broadcast(sb), "b").select(
        "a", "b",
        n_match.alias("n_match"),
        (n_match.cast("double") / F.lit(16.0)).alias("est_jaccard"),
    )
    true_j = ngram_jaccard_pairs(docs).select("a", "b", "jaccard")
    return est.join(true_j, ["a", "b"], "left").select(
        "a", "b", "n_match", "est_jaccard",
        F.coalesce("jaccard", F.lit(0.0)).alias("jaccard"),
    )


def q_dd28_sig_length_curve(spark, sf_dir):
    # the SIGNATURE-LENGTH sizing artifact (r10; dd26 tunes the
    # shingle width, sk11 the CMS width — this prices the OTHER
    # minhash knob: how many hash functions k to pay for). Per LSH
    # candidate pair, the MinHash Jaccard estimate from the first k
    # of the 16 minima (k = 4/8/16) next to the exact shingle
    # Jaccard, folded into a per-k histogram of |estimate − truth|
    # (1000-bp-wide error buckets). Theory says the estimator's std
    # error is sqrt(J(1−J)/k) — halving error costs 4× signature
    # bytes AND 4× banding shuffle at 100 TB; this artifact is the
    # measured version of that trade on the corpus itself. Exact
    # integers throughout: est_bp = n_match·(10000/k) (2500/1250/625
    # — all exact), truth_bp = isz·10000 DIV usz. ONE pinned
    # candidate relation, two broadcast signature lookups over the
    # candidate-pruned corpus, dd27's exact-verify pass, a 3-way
    # stack, then a ≤33-row histogram; the share window runs over
    # the histogram only, partitioned by k.
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        bands_from_sigs,
        minhash_sigs,
    )

    docs = load_table(spark, sf_dir, "documents")
    # r10: one signature pass (dd16's idiom) — the pinned full-corpus
    # signatures feed the banding AND replace the second
    # minhash_sigs(pruned) tokenize pass (a semi-join filter of the
    # pinned relation is bit-identical to re-deriving signatures on
    # the pruned docs: the signature is a per-row function)
    sigs_full = minhash_sigs(docs).localCheckpoint(eager=True)
    cand = (
        lsh_candidate_pairs(bands_from_sigs(sigs_full), pin=False)
        .select("a", "b")
        .distinct()
        .localCheckpoint(eager=True)
    )
    ids = (
        cand.select(F.col("a").alias("doc_id"))
        .union(cand.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    pruned = docs.join(ids, "doc_id", "left_semi")
    sigs = sigs_full.join(ids, "doc_id", "left_semi")
    sa = sigs.select(
        F.col("doc_id").alias("a"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(16)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("b"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(16)],
    )

    def _nm(lo: int, hi: int):
        return sum(
            (F.col(f"a{j}") == F.col(f"b{j}")).cast("int")
            for j in range(lo, hi)
        )

    est = (
        cand.join(F.broadcast(sa), "a")
        .join(F.broadcast(sb), "b")
        .select(
            "a",
            "b",
            _nm(0, 4).alias("_n4"),
            _nm(4, 8).alias("_i8"),
            _nm(8, 16).alias("_i16"),
        )
        .select(
            "a",
            "b",
            "_n4",
            (F.col("_n4") + F.col("_i8")).alias("_n8"),
            (F.col("_n4") + F.col("_i8") + F.col("_i16")).alias("_n16"),
        )
    )
    vp = ngram_jaccard_pairs(pruned).select(
        "a", "b", "intersect_size", "union_size"
    )
    pe = est.join(vp, ["a", "b"], "left").select(
        "_n4",
        "_n8",
        "_n16",
        F.expr(
            "CAST((coalesce(intersect_size, 0) * 10000)"
            " DIV coalesce(union_size, 1) AS BIGINT)"
        ).alias("_tbp"),
    )
    rows = pe.select(
        F.expr(
            "stack(3,"
            " 4, abs(_n4 * 2500 - _tbp),"
            " 8, abs(_n8 * 1250 - _tbp),"
            " 16, abs(_n16 * 625 - _tbp)) AS (k, err_bp)"
        )
    )
    hist = rows.groupBy(
        F.col("k").cast("int").alias("k"),
        F.expr("CAST((err_bp DIV 1000) * 1000 AS INT)").alias(
            "err_bucket_bp"
        ),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    return hist.select(
        "k",
        "err_bucket_bp",
        "n_pairs",
        F.expr(
            "CAST((n_pairs * 10000)"
            " DIV (sum(n_pairs) OVER (PARTITION BY k)) AS BIGINT)"
        ).alias("share_bp"),
    )


def _bands_sql_for_shingle(w: int) -> str:
    # _MINHASH_BANDS_SQL with the shingle width parametrized (the
    # shared macro is the w=3 instance): same hash basis, same band
    # layout, only the slice width changes.
    return f"""
WITH sh AS (
    SELECT doc_id, DISTINCT_SH.shingle FROM (
      SELECT doc_id, toks FROM (SELECT doc_id, {{t}} AS toks FROM documents)
    ) t,
    LATERAL (
      SELECT DISTINCT array_to_string(list_slice(toks, i, i + {w - 1}), ' ')
        AS shingle
      FROM unnest(generate_series(1, greatest(len(toks) - {w - 1}, 1)))
        AS g(i)
    ) DISTINCT_SH
),
hx AS (SELECT doc_id, {{h}} AS x FROM sh),
sig AS (
  SELECT doc_id,
{{m}}
  FROM hx GROUP BY doc_id
)
SELECT doc_id, b.band_id, b.band_hash
FROM sig, LATERAL (
  SELECT * FROM (VALUES {{b}}) AS v(band_id, band_hash)
) b
""".format(
        t=_TOKENS,
        h=_HASH32.format(x="shingle"),
        m=_MINHASH_TERMS,
        b=_BAND_TERMS,
    )


def q_dd26_shingle_sensitivity(spark, sf_dir):
    # the parameter-tuning curve the LSH dedup family is configured
    # from (ss18 tunes nprobe, sk10/sk11 tune sketch sizes; this
    # tunes the SHINGLE width): candidate-pair volume and docs
    # touched at w = 2/3/5 words — small w over-pairs (common phrases
    # collide), large w under-pairs (one edit breaks every shingle).
    # r10 optimization (was: three independent dd2-shaped pipelines
    # unioned — 36 planned scans of the corpus, one tokenize and one
    # band-bucket shuffle PER width): the corpus is scanned and
    # tokenized ONCE (tokenization is width-independent), all three
    # widths' shingle-hash arrays and 16 minima derive from that one
    # token array in a single staged map chain, and the 12 width-
    # tagged band structs ride ONE explode into ONE bucket self-join
    # keyed (w, band_id, band_hash) — per-width buckets can't
    # cross-pair because w is in the key, so the candidate sets are
    # bit-identical to the per-width pipelines. One corpus scan, one
    # band shuffle, one distinct for all three curve rows.
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        BAND_SIZE,
        NUM_HASHES,
        hash32,
        minhash_min_sql,
    )
    from enriched_crime_incident_data_pipeline_spark.functions.text import (
        shingles_from_tokens,
        tokens,
    )
    from enriched_crime_incident_data_pipeline_spark.operators.parallelism import (
        fan_out,
    )

    docs = load_table(spark, sf_dir, "documents")
    widths = (2, 3, 5)
    toked = fan_out(docs).select(
        F.col("doc_id"), tokens(F.col("text")).alias("_toks")
    )
    # one projection per derivation level so each array is computed
    # once and shared (minhash_sigs' staging idiom)
    staged = toked.select(
        "doc_id",
        *[
            F.transform(
                F.array_distinct(shingles_from_tokens(F.col("_toks"), w)),
                lambda s: hash32(s),
            ).alias(f"_xs{w}")
            for w in widths
        ],
    )

    sigs = staged.selectExpr(
        "doc_id",
        *[
            f"{minhash_min_sql(f'_xs{w}', j)} AS _mh{w}_{j}"
            for w in widths
            for j in range(NUM_HASHES)
        ],
    )
    structs = []
    for w in widths:
        for b in range(NUM_HASHES // BAND_SIZE):
            cols = [
                F.col(f"_mh{w}_{b * BAND_SIZE + r}") for r in range(BAND_SIZE)
            ]
            structs.append(
                F.struct(
                    F.lit(w).alias("w"),
                    F.lit(b).alias("band_id"),
                    F.unhex(
                        F.md5(
                            F.concat_ws(
                                "-", *[c.cast("string") for c in cols]
                            )
                        )
                    ).alias("band_hash"),
                )
            )
    # pin the width-tagged band table before the self-join: branch
    # lineages are not deduplicated at runtime, so unpinned the whole
    # tokenize→hash→minima chain would run once per join side
    # (interleaved A/B at sf0.1: 4.2 → 2.4 s with both pins)
    bands = sigs.select(
        "doc_id", F.explode(F.array(*structs)).alias("bd")
    ).select(
        "doc_id",
        F.col("bd.w").alias("w"),
        F.col("bd.band_id").alias("band_id"),
        F.col("bd.band_hash").alias("band_hash"),
    ).localCheckpoint(eager=True)
    left = bands.select(F.col("doc_id").alias("a"), "w", "band_id", "band_hash")
    right = bands.select(F.col("doc_id").alias("b"), "w", "band_id", "band_hash")
    # pin the (tiny) pair set: three consumers read it, and measured
    # A/B shows branch lineages are NOT deduplicated at runtime —
    # unpinned, the whole scan→tokenize→minhash→join chain executes
    # once per consumer (1.8 s vs 0.33 s at sf0.1)
    pairs = (
        left.join(right, ["w", "band_id", "band_hash"])
        .filter(F.col("a") < F.col("b"))
        .select("w", "a", "b")
        .distinct()
        .localCheckpoint(eager=True)
    )
    pc_ = pairs.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs")
    )
    ids = (
        pairs.select("w", F.col("a").alias("i"))
        .union(pairs.select("w", F.col("b")))
        .distinct()
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs_in_pairs"))
    )
    # a width with zero candidate pairs must still emit its (w, 0, 0)
    # row (the per-width aggs of the r9 shape did) — left-join the
    # 3-row width frame
    wd = local_frame(spark, [(w,) for w in widths], "w int")
    return (
        wd.join(pc_, "w", "left")
        .join(ids, "w", "left")
        .select(
            F.col("w").cast("int").alias("shingle_words"),
            F.coalesce(F.col("n_candidate_pairs"), F.lit(0))
            .cast("bigint")
            .alias("n_candidate_pairs"),
            F.coalesce(F.col("n_docs_in_pairs"), F.lit(0))
            .cast("bigint")
            .alias("n_docs_in_pairs"),
        )
    )


def q_dd25_cluster_size_histogram(spark, sf_dir):
    # the dedup REPORT a curation run publishes (dd9 finds the
    # clusters; this is the page humans read): duplicate-family size
    # distribution — per exact size, how many families — plus the
    # corpus-level cells the decision hangs on (docs in non-singleton
    # families in bp, largest family). Epilogue is join-free: cluster
    # sizes groupBy → size histogram (≤|distinct sizes| rows) →
    # constants via a window over that tiny relation, never the docs.
    from enriched_crime_incident_data_pipeline_spark.datapipe.clusters import (
        dup_clusters,
    )
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(minhash_bands(docs))
    cl = dup_clusters(docs, pairs)
    sizes = cl.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    hist = sizes.groupBy("sz").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters")
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return hist.select(
        F.col("sz").alias("family_size"),
        "n_clusters",
        F.sum(F.col("sz") * F.col("n_clusters")).over(wall).alias("_docs"),
        F.sum(
            F.when(F.col("sz") >= 2, F.col("sz") * F.col("n_clusters"))
            .otherwise(F.lit(0))
        ).over(wall).alias("_dup_docs"),
        F.max(F.col("sz")).over(wall).alias("largest_family"),
    ).select(
        "family_size",
        "n_clusters",
        F.col("_docs").cast("bigint").alias("n_docs"),
        F.expr("CAST((_dup_docs * 10000) DIV _docs AS BIGINT)").alias(
            "dup_doc_share_bp"
        ),
        F.col("largest_family").cast("bigint").alias("largest_family"),
    )


def q_dd9_dup_clusters(spark, sf_dir):
    # the dedup endgame: LSH candidate pairs → connected components →
    # one canonical doc per cluster (iterative min-label propagation)
    from enriched_crime_incident_data_pipeline_spark.datapipe.clusters import (
        dup_clusters,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(minhash_bands(docs))
    return dup_clusters(docs, pairs)


def q_dd22_cluster_agreement(spark, sf_dir):
    # Adjusted Rand Index between the LSH dup clustering (dd9) and
    # the provider partition — "does near-duplication align with
    # source?", the audit a curation team runs before weighting
    # providers (ARI ~ 1 means one provider's feed is re-serving
    # another's). Exact integer combinatorics end-to-end: the
    # contingency table (cluster × source cell counts) is one
    # map-side groupBy; pair counts n·(n−1)/2, row/col sums, and the
    # ARI numerator/denominator are integer arithmetic in
    # decimal(38,0) (products reach C(N,2)², past bigint at corpus
    # scale), published as sign-safe integer bp. The only row-sized
    # work is dd9's own clustering + one hash join to attach source.
    from enriched_crime_incident_data_pipeline_spark.datapipe.clusters import (
        dup_clusters,
    )

    docs = load_table(spark, sf_dir, "documents")
    clusters = dup_clusters(
        docs, lsh_candidate_pairs(minhash_bands(docs))
    ).select("doc_id", "cluster_id")
    cells = (
        clusters.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("cluster_id", "source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    dec = "decimal(38,0)"
    pairs2 = lambda c: (F.col(c).cast(dec) * (F.col(c).cast(dec) - 1)) / 2
    idx = cells.agg(
        F.sum(pairs2("n")).cast(dec).alias("sum_index"),
        F.sum("n").cast(dec).alias("n_items"),
        F.countDistinct("cluster_id").alias("n_a"),
        F.countDistinct("source").alias("n_b"),
    )
    sa = (
        cells.groupBy("cluster_id")
        .agg(F.sum("n").alias("a"))
        .agg(F.sum(pairs2("a")).cast(dec).alias("sa"))
    )
    sb = (
        cells.groupBy("source")
        .agg(F.sum("n").alias("b"))
        .agg(F.sum(pairs2("b")).cast(dec).alias("sb"))
    )
    out = (
        idx.crossJoin(F.broadcast(sa))
        .crossJoin(F.broadcast(sb))
        .withColumn("cn2", F.expr(
            "CAST(n_items * (n_items - 1) AS decimal(38,0)) DIV 2"
        ).cast(dec))
        .withColumn("num2", F.expr(
            "2 * (cn2 * sum_index - sa * sb)"
        ))
        .withColumn("den2", F.expr("cn2 * (sa + sb) - 2 * sa * sb"))
    )
    return out.select(
        F.col("n_items").cast("bigint").alias("n_items"),
        F.col("n_a").cast("bigint").alias("n_clusters"),
        F.col("n_b").cast("bigint").alias("n_sources"),
        F.col("sum_index").cast("bigint").alias("index_pairs"),
        F.col("sa").cast("bigint").alias("sum_a_pairs"),
        F.col("sb").cast("bigint").alias("sum_b_pairs"),
        F.expr(
            "CAST(CASE WHEN den2 = 0 THEN 0"
            " WHEN num2 < 0 THEN -(((-num2) * 10000) DIV den2)"
            " ELSE (num2 * 10000) DIV den2 END AS BIGINT)"
        ).alias("ari_bp"),
    )


def q_dd10_dedup_keeper(spark, sf_dir):
    # corpus-clean drop-list: LSH pairs → connected components →
    # keep-longest keeper per cluster, emit the rows to delete
    from enriched_crime_incident_data_pipeline_spark.datapipe.clusters import (
        connected_components,
        dedup_drop_list,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(minhash_bands(docs))
    members = connected_components(pairs).withColumnRenamed("node", "node")
    sizes = docs.select(
        F.col("doc_id").alias("node"),
        token_count(F.col("text")).alias("n_tokens"),
    )
    return dedup_drop_list(members, sizes)


def q_dd11_segment_dedup(spark, sf_dir):
    # corpus-wide exact segment dedup (C4-style line dedup at
    # 10-token granularity): later occurrences of any segment drop,
    # docs rebuilt from survivors in order
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        segment_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    return segment_dedup(docs, seg_tokens=10)


def q_dd18_intradoc_dedup(spark, sf_dir):
    # WITHIN-doc segment dedup (C4's boilerplate strip): first
    # occurrence of each 10-token segment inside its own document —
    # no corpus-wide state at all, one Arrow map hop, runs BEFORE the
    # corpus passes so their shuffles see already-shrunk text.
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        intradoc_segment_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    return intradoc_segment_dedup(docs, seg_tokens=10)


def q_dd17_cdc_segments(spark, sf_dir):
    # content-defined segment dedup (r5): boundaries fall where the
    # rolling 8-token window hash ≡ 0 mod 16 (FastCDC/LBFS applied at
    # token granularity), so an edit near a doc's head re-synchronizes
    # within ~8 tokens and the shared tail still dedups — the
    # shift-robust companion to dd11's fixed windows. Segment text
    # never shuffles (hash-only keeper, min-struct agg, re-slice
    # rebuild).
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        cdc_segment_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    return cdc_segment_dedup(docs, window=8, divisor=16)


def q_dd12_incremental_lsh(spark, sf_dir):
    # incremental index maintenance: new docs (doc_id % 5 == 0) probe
    # the standing band index — work ∝ |new| × bucket hit rate, never
    # |corpus|²; output = full-corpus pairs restricted to new docs
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        incremental_lsh_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    new_docs = docs.filter(F.col("doc_id") % 5 == 0)
    old_docs = docs.filter(F.col("doc_id") % 5 != 0)
    return incremental_lsh_pairs(
        minhash_bands(new_docs), minhash_bands(old_docs)
    )


def q_dd13_repeated_spans(spark, sf_dir):
    # exact-substring dedup stats (Lee et al. 2022 move): stride-1
    # 10-token windows → corpus-wide occurrence count (one uniform
    # md5-key shuffle) → per-doc gaps-and-islands merge into maximal
    # duplicated spans; no self-join anywhere
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        repeated_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    return repeated_spans(docs, win_tokens=10, min_count=2)


def q_dd13b_repeated_spans_sampled(spark, sf_dir):
    # winnowed variant of dd13 (round-4 scale item): only each
    # 8-window argmin enters the corpus-wide count shuffle (~22% of
    # the rows), deterministic coverage — every duplicated region
    # >= 31 tokens is detected; argmin carries hash||offset in one
    # 61-bit key so selection needs no join-back
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        repeated_spans_sampled,
    )

    docs = load_table(spark, sf_dir, "documents")
    return repeated_spans_sampled(docs, win_tokens=10, winnow_w=8)

def q_dd20_dup_rate_by_source(spark, sf_dir):
    # corpus-audit rollup: per source, how much near-duplication? One
    # row per source with doc count, docs that belong to any LSH
    # cluster, distinct clusters touched, and the duplication rate in
    # integer basis points - the per-provider report a 100 TB corpus
    # clean publishes before deciding drop policies. Reuses the exact
    # banding -> CC machinery (dd9); the per-source reduce runs over
    # the tiny member relation joined to a two-column docs
    # projection.
    from enriched_crime_incident_data_pipeline_spark.datapipe.clusters import (
        connected_components,
    )
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        lsh_candidate_pairs,
        minhash_bands,
    )

    docs = load_table(spark, sf_dir, "documents")
    members = connected_components(lsh_candidate_pairs(minhash_bands(docs)))
    src = docs.select("doc_id", "source")
    m = members.join(src, members["node"] == src["doc_id"]).select(
        "source", "cluster_id"
    )
    per_src = m.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_members"),
        F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
    )
    totals = src.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    return (
        totals.join(per_src, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_dup_members", F.lit(0)).cast("bigint").alias(
                "n_dup_members"
            ),
            F.coalesce("n_clusters", F.lit(0)).cast("bigint").alias(
                "n_clusters"
            ),
            F.expr(
                "CAST(coalesce(n_dup_members, 0) * 10000 DIV n_docs"
                " AS BIGINT)"
            ).alias("dup_rate_bp"),
        )
    )


def q_dd21_source_overlap(spark, sf_dir):
    # inter-provider overlap audit via MinHash MERGEABILITY: a
    # source-level signature is the element-wise min of its docs'
    # signatures (min-of-mins == min over the union of shingle sets
    # - the sketch-union property that makes MinHash a distributive
    # aggregate), so per-source sigs cost one map-side-combinable
    # groupBy and the pairwise Jaccard estimate runs over the TINY
    # sources x sources relation - never doc pairs. The estimate is
    # exact integer arithmetic: matching coordinates x 625 bp (16
    # hashes). The report a corpus buyer reads before paying twice
    # for the same crawl.
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        NUM_HASHES,
        minhash_sigs,
    )

    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_sigs(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    src_sigs = sigs.groupBy("source").agg(
        *[F.min(f"mh{j}").alias(f"mh{j}") for j in range(NUM_HASHES)]
    )
    a = src_sigs.select(
        F.col("source").alias("source_a"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(NUM_HASHES)],
    )
    b = src_sigs.select(
        F.col("source").alias("source_b"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(NUM_HASHES)],
    )
    matches = None
    for j in range(NUM_HASHES):
        term = F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        matches = term if matches is None else matches + term
    return (
        a.crossJoin(b)
        .filter(F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            matches.cast("bigint").alias("n_matches"),
            (matches * 625).cast("bigint").alias("jaccard_bp"),
        )
    )


QUERIES = {
    "dd21_source_overlap": q_dd21_source_overlap,
    "dd20_dup_rate_by_source": q_dd20_dup_rate_by_source,
    "dd1_exact_dedup": q_dd1_exact_dedup,
    "dd2_minhash_bands": q_dd2_minhash_bands,
    "dd3_lsh_pairs": q_dd3_lsh_pairs,
    "dd4_simhash": q_dd4_simhash,
    "dd5_ngram_jaccard": q_dd5_ngram_jaccard,
    "dd15_containment": q_dd15_containment,
    "dd16_minhash_estimate": q_dd16_minhash_estimate,
    "dd5b_ngram_capped": q_dd5b_ngram_capped,
    "dd10_dedup_keeper": q_dd10_dedup_keeper,
    "dd11_segment_dedup": q_dd11_segment_dedup,
    "dd17_cdc_segments": q_dd17_cdc_segments,
    "dd18_intradoc_dedup": q_dd18_intradoc_dedup,
    "dd19_lsh_verified": q_dd19_lsh_verified,
    "dd27_jaccard_threshold_curve": q_dd27_jaccard_threshold_curve,
    "dd28_sig_length_curve": q_dd28_sig_length_curve,
    "dd12_incremental_lsh": q_dd12_incremental_lsh,
    "dd13_repeated_spans": q_dd13_repeated_spans,
    "dd13b_repeated_spans_sampled": q_dd13b_repeated_spans_sampled,
    "dd6_embed_cosine": q_dd6_embed_cosine,
    "dd7_embed_blocked": q_dd7_embed_blocked,
    "dd14_semdedup": q_dd14_semdedup,
    "dd23_threshold_sweep": q_dd23_threshold_sweep,
    "dd8_simhash_pairs": q_dd8_simhash_pairs,
    "dd8b_simhash_wide": q_dd8b_simhash_wide,
    "dd9_dup_clusters": q_dd9_dup_clusters,
    "dd25_cluster_size_histogram": q_dd25_cluster_size_histogram,
    "dd26_shingle_sensitivity": q_dd26_shingle_sensitivity,
    "dd22_cluster_agreement": q_dd22_cluster_agreement,
}

_DD26_SQL = """
                    WITH cell_2 AS (
                      WITH bands AS ({BANDS_2}),
                      pairs AS (
                        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                        FROM bands l JOIN bands r
                          ON l.band_id = r.band_id
                          AND l.band_hash = r.band_hash
                        WHERE l.doc_id < r.doc_id
                      ),
                      ids AS (
                        SELECT a AS i FROM pairs
                        UNION SELECT b FROM pairs
                      )
                      SELECT 2 AS shingle_words,
                             CAST((SELECT count(*) FROM pairs) AS BIGINT)
                               AS n_candidate_pairs,
                             CAST((SELECT count(*) FROM ids) AS BIGINT)
                               AS n_docs_in_pairs
                    ),
                    cell_3 AS (
                      WITH bands AS ({BANDS_3}),
                      pairs AS (
                        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                        FROM bands l JOIN bands r
                          ON l.band_id = r.band_id
                          AND l.band_hash = r.band_hash
                        WHERE l.doc_id < r.doc_id
                      ),
                      ids AS (
                        SELECT a AS i FROM pairs
                        UNION SELECT b FROM pairs
                      )
                      SELECT 3 AS shingle_words,
                             CAST((SELECT count(*) FROM pairs) AS BIGINT)
                               AS n_candidate_pairs,
                             CAST((SELECT count(*) FROM ids) AS BIGINT)
                               AS n_docs_in_pairs
                    ),
                    cell_5 AS (
                      WITH bands AS ({BANDS_5}),
                      pairs AS (
                        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                        FROM bands l JOIN bands r
                          ON l.band_id = r.band_id
                          AND l.band_hash = r.band_hash
                        WHERE l.doc_id < r.doc_id
                      ),
                      ids AS (
                        SELECT a AS i FROM pairs
                        UNION SELECT b FROM pairs
                      )
                      SELECT 5 AS shingle_words,
                             CAST((SELECT count(*) FROM pairs) AS BIGINT)
                               AS n_candidate_pairs,
                             CAST((SELECT count(*) FROM ids) AS BIGINT)
                               AS n_docs_in_pairs
                    )
                    SELECT CAST(shingle_words AS INTEGER) AS shingle_words,
                           n_candidate_pairs, n_docs_in_pairs
                    FROM (
                    SELECT * FROM cell_2
                    UNION ALL SELECT * FROM cell_3
                    UNION ALL SELECT * FROM cell_5
                    )
""".replace("{BANDS_2}", _bands_sql_for_shingle(2)).replace(
    "{BANDS_3}", _bands_sql_for_shingle(3)
).replace("{BANDS_5}", _bands_sql_for_shingle(5))


def oracles() -> dict[str, str]:
    out = {
        "dd21_source_overlap": f"""
                    WITH sh AS ({_SHINGLES3}),
                    hx AS (
                      SELECT d.source, {_HASH32.format(x='shingle')} AS x
                      FROM sh JOIN documents d ON sh.doc_id = d.doc_id
                    ),
                    sig AS (
                      SELECT source,
{_MINHASH_TERMS}
                      FROM hx GROUP BY source
                    )
                    SELECT a.source AS source_a, b.source AS source_b,
                           CAST((CASE WHEN a.mh0 = b.mh0 THEN 1 ELSE 0 END) + (CASE WHEN a.mh1 = b.mh1 THEN 1 ELSE 0 END) + (CASE WHEN a.mh2 = b.mh2 THEN 1 ELSE 0 END) + (CASE WHEN a.mh3 = b.mh3 THEN 1 ELSE 0 END) + (CASE WHEN a.mh4 = b.mh4 THEN 1 ELSE 0 END) + (CASE WHEN a.mh5 = b.mh5 THEN 1 ELSE 0 END) + (CASE WHEN a.mh6 = b.mh6 THEN 1 ELSE 0 END) + (CASE WHEN a.mh7 = b.mh7 THEN 1 ELSE 0 END) + (CASE WHEN a.mh8 = b.mh8 THEN 1 ELSE 0 END) + (CASE WHEN a.mh9 = b.mh9 THEN 1 ELSE 0 END) + (CASE WHEN a.mh10 = b.mh10 THEN 1 ELSE 0 END) + (CASE WHEN a.mh11 = b.mh11 THEN 1 ELSE 0 END) + (CASE WHEN a.mh12 = b.mh12 THEN 1 ELSE 0 END) + (CASE WHEN a.mh13 = b.mh13 THEN 1 ELSE 0 END) + (CASE WHEN a.mh14 = b.mh14 THEN 1 ELSE 0 END) + (CASE WHEN a.mh15 = b.mh15 THEN 1 ELSE 0 END) AS BIGINT)
                             AS n_matches,
                           CAST(((CASE WHEN a.mh0 = b.mh0 THEN 1 ELSE 0 END) + (CASE WHEN a.mh1 = b.mh1 THEN 1 ELSE 0 END) + (CASE WHEN a.mh2 = b.mh2 THEN 1 ELSE 0 END) + (CASE WHEN a.mh3 = b.mh3 THEN 1 ELSE 0 END) + (CASE WHEN a.mh4 = b.mh4 THEN 1 ELSE 0 END) + (CASE WHEN a.mh5 = b.mh5 THEN 1 ELSE 0 END) + (CASE WHEN a.mh6 = b.mh6 THEN 1 ELSE 0 END) + (CASE WHEN a.mh7 = b.mh7 THEN 1 ELSE 0 END) + (CASE WHEN a.mh8 = b.mh8 THEN 1 ELSE 0 END) + (CASE WHEN a.mh9 = b.mh9 THEN 1 ELSE 0 END) + (CASE WHEN a.mh10 = b.mh10 THEN 1 ELSE 0 END) + (CASE WHEN a.mh11 = b.mh11 THEN 1 ELSE 0 END) + (CASE WHEN a.mh12 = b.mh12 THEN 1 ELSE 0 END) + (CASE WHEN a.mh13 = b.mh13 THEN 1 ELSE 0 END) + (CASE WHEN a.mh14 = b.mh14 THEN 1 ELSE 0 END) + (CASE WHEN a.mh15 = b.mh15 THEN 1 ELSE 0 END)) * 625 AS BIGINT)
                             AS jaccard_bp
                    FROM sig a JOIN sig b ON a.source < b.source
                """,
        "dd20_dup_rate_by_source": f"""
                    WITH RECURSIVE pairs AS (
                      WITH bands AS ({_MINHASH_BANDS_SQL})
                      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                      FROM bands l JOIN bands r
                        ON l.band_id = r.band_id AND l.band_hash = r.band_hash
                      WHERE l.doc_id < r.doc_id
                    ),
                    edges AS (
                      SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
                    ),
                    reach(node, label) AS (
                      SELECT DISTINCT a AS node, a AS label FROM edges
                      UNION
                      SELECT e.a AS node, r.label FROM edges e JOIN reach r ON r.node = e.b
                    ),
                    cc AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node),
                    m AS (
                      SELECT d.source, cc.cluster_id
                      FROM cc JOIN documents d ON cc.node = d.doc_id
                    ),
                    per_src AS (
                      SELECT source, count(*) AS n_dup_members,
                             count(DISTINCT cluster_id) AS n_clusters
                      FROM m GROUP BY source
                    ),
                    totals AS (
                      SELECT source, count(*) AS n_docs
                      FROM documents GROUP BY source
                    )
                    SELECT t.source,
                           CAST(t.n_docs AS BIGINT) AS n_docs,
                           CAST(coalesce(p.n_dup_members, 0) AS BIGINT)
                             AS n_dup_members,
                           CAST(coalesce(p.n_clusters, 0) AS BIGINT)
                             AS n_clusters,
                           CAST(coalesce(p.n_dup_members, 0) * 10000
                                // t.n_docs AS BIGINT) AS dup_rate_bp
                    FROM totals t LEFT JOIN per_src p ON t.source = p.source
                """,
        "dd6_embed_cosine": f"""
                    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
                    SELECT a.vec_id AS a, b.vec_id AS b, {_COS} AS cosine
                    FROM e a JOIN e b ON a.vec_id < b.vec_id
                    WHERE {_COS} >= 0.4
                """,
        "dd23_threshold_sweep": f"""
                    WITH e AS (
                      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                    ),
                    cent AS (SELECT vec_id AS cid, v FROM e WHERE vec_id < 16),
                    assign AS (
                      SELECT vec_id, cid AS cluster FROM (
                        SELECT a.vec_id, cent.cid,
                          row_number() OVER (PARTITION BY a.vec_id ORDER BY
                            list_dot_product(a.v, cent.v)
                              / (sqrt(list_dot_product(a.v, a.v))
                                 * sqrt(list_dot_product(cent.v, cent.v))) DESC,
                            cent.cid) AS rn
                        FROM e a, cent
                      ) WHERE rn = 1
                    ),
                    pairs AS MATERIALIZED (
                      SELECT a.vec_id AS a, b.vec_id AS b, {_COS} AS cosine
                      FROM e a
                      JOIN assign ca ON a.vec_id = ca.vec_id
                      JOIN assign cb ON cb.cluster = ca.cluster
                      JOIN e b ON b.vec_id = cb.vec_id AND a.vec_id < b.vec_id
                      WHERE {_COS} >= 0.2
                    )
                      SELECT CAST(2000 AS INTEGER) AS threshold_bp,
                             CAST(count(*) AS BIGINT) AS n_pairs,
                             CAST((SELECT count(DISTINCT d) FROM (
                                SELECT a AS d FROM pairs WHERE cosine >= 0.2
                                UNION ALL
                                SELECT b FROM pairs WHERE cosine >= 0.2))
                               AS BIGINT) AS docs_affected
                      FROM pairs WHERE cosine >= 0.2
                      UNION ALL
                      SELECT CAST(3000 AS INTEGER) AS threshold_bp,
                             CAST(count(*) AS BIGINT) AS n_pairs,
                             CAST((SELECT count(DISTINCT d) FROM (
                                SELECT a AS d FROM pairs WHERE cosine >= 0.3
                                UNION ALL
                                SELECT b FROM pairs WHERE cosine >= 0.3))
                               AS BIGINT) AS docs_affected
                      FROM pairs WHERE cosine >= 0.3
                      UNION ALL
                      SELECT CAST(4000 AS INTEGER) AS threshold_bp,
                             CAST(count(*) AS BIGINT) AS n_pairs,
                             CAST((SELECT count(DISTINCT d) FROM (
                                SELECT a AS d FROM pairs WHERE cosine >= 0.4
                                UNION ALL
                                SELECT b FROM pairs WHERE cosine >= 0.4))
                               AS BIGINT) AS docs_affected
                      FROM pairs WHERE cosine >= 0.4
                      UNION ALL
                      SELECT CAST(5000 AS INTEGER) AS threshold_bp,
                             CAST(count(*) AS BIGINT) AS n_pairs,
                             CAST((SELECT count(DISTINCT d) FROM (
                                SELECT a AS d FROM pairs WHERE cosine >= 0.5
                                UNION ALL
                                SELECT b FROM pairs WHERE cosine >= 0.5))
                               AS BIGINT) AS docs_affected
                      FROM pairs WHERE cosine >= 0.5
                      UNION ALL
                      SELECT CAST(7000 AS INTEGER) AS threshold_bp,
                             CAST(count(*) AS BIGINT) AS n_pairs,
                             CAST((SELECT count(DISTINCT d) FROM (
                                SELECT a AS d FROM pairs WHERE cosine >= 0.7
                                UNION ALL
                                SELECT b FROM pairs WHERE cosine >= 0.7))
                               AS BIGINT) AS docs_affected
                      FROM pairs WHERE cosine >= 0.7
                """,
        "dd7_embed_blocked": f"""
                    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
                    cent AS (SELECT vec_id AS cid, v FROM e WHERE vec_id < 16),
                    assign AS (
                      SELECT vec_id, cid AS cluster FROM (
                        SELECT a.vec_id, cent.cid,
                          row_number() OVER (PARTITION BY a.vec_id ORDER BY
                            list_dot_product(a.v, cent.v)
                              / (sqrt(list_dot_product(a.v, a.v))
                                 * sqrt(list_dot_product(cent.v, cent.v))) DESC,
                            cent.cid) AS rn
                        FROM e a, cent
                      ) WHERE rn = 1
                    )
                    SELECT a.vec_id AS a, b.vec_id AS b, {_COS} AS cosine
                    FROM e a
                    JOIN assign ca ON a.vec_id = ca.vec_id
                    JOIN assign cb ON cb.cluster = ca.cluster
                    JOIN e b ON b.vec_id = cb.vec_id AND a.vec_id < b.vec_id
                    WHERE {_COS} >= 0.3
                """,
        "dd14_semdedup": f"""
                    WITH RECURSIVE e AS (
                      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                    ),
                    cent AS (SELECT vec_id AS cid, v FROM e WHERE vec_id < 16),
                    assign AS (
                      SELECT vec_id, cid AS cluster FROM (
                        SELECT a.vec_id, cent.cid,
                          row_number() OVER (PARTITION BY a.vec_id ORDER BY
                            list_dot_product(a.v, cent.v)
                              / (sqrt(list_dot_product(a.v, a.v))
                                 * sqrt(list_dot_product(cent.v, cent.v))) DESC,
                            cent.cid) AS rn
                        FROM e a, cent
                      ) WHERE rn = 1
                    ),
                    pairs AS (
                      SELECT a.vec_id AS a, b.vec_id AS b
                      FROM e a
                      JOIN assign ca ON a.vec_id = ca.vec_id
                      JOIN assign cb ON cb.cluster = ca.cluster
                      JOIN e b ON b.vec_id = cb.vec_id AND a.vec_id < b.vec_id
                      WHERE {_COS} >= 0.3
                    ),
                    edges AS (
                      SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
                    ),
                    reach(node, label) AS (
                      SELECT DISTINCT a AS node, a AS label FROM edges
                      UNION
                      SELECT e2.a AS node, r.label
                      FROM edges e2 JOIN reach r ON r.node = e2.b
                    ),
                    cc AS (
                      SELECT node, min(label) AS cluster_id FROM reach GROUP BY node
                    )
                    SELECT node AS vec_id, cluster_id AS rep_id
                    FROM cc WHERE cluster_id <> node
                """,
        "dd1_exact_dedup": f"""
                    SELECT md5({_NORM}) AS fingerprint,
                           min(doc_id) AS keep_id, count(*) AS group_size
                    FROM documents GROUP BY 1
                """,
        "dd2_minhash_bands": _MINHASH_BANDS_SQL,
        "dd3_lsh_pairs": f"""
                    WITH bands AS ({_MINHASH_BANDS_SQL})
                    SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                    FROM bands l JOIN bands r
                      ON l.band_id = r.band_id AND l.band_hash = r.band_hash
                    WHERE l.doc_id < r.doc_id
                """,
        "dd4_simhash": f"""
                    WITH tok AS (
                      SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents
                    ),
                    hx AS (
                      SELECT doc_id,
                             ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h1,
                             ('0x' || substr(md5(tok), 9, 8))::BIGINT AS h2
                      FROM tok
                    ),
                    sums AS (
                      SELECT doc_id,
        {_SIMHASH_SUM_TERMS}
                      FROM hx GROUP BY doc_id
                    )
                    SELECT doc_id, CAST({_SIMHASH_BITS} AS BIGINT) AS simhash FROM sums
                """,
        "dd8_simhash_pairs": f"""
                    WITH tok AS (
                      SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents
                    ),
                    hx AS (
                      SELECT doc_id,
                             ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h1,
                             ('0x' || substr(md5(tok), 9, 8))::BIGINT AS h2
                      FROM tok
                    ),
                    sums AS (
                      SELECT doc_id,
        {_SIMHASH_SUM_TERMS}
                      FROM hx GROUP BY doc_id
                    ),
                    sig AS (
                      SELECT doc_id, CAST({_SIMHASH_BITS} AS BIGINT) AS simhash
                      FROM sums
                    ),
                    bands AS (
                      SELECT doc_id, simhash, b.band_idx,
                             (simhash >> (16 * b.band_idx)) & 65535 AS band_val
                      FROM sig, (SELECT unnest([0, 1, 2, 3]) AS band_idx) b
                    ),
                    cand AS (
                      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
                             l.simhash AS sa, r.simhash AS sb
                      FROM bands l JOIN bands r
                        ON l.band_idx = r.band_idx AND l.band_val = r.band_val
                      WHERE l.doc_id < r.doc_id
                    )
                    SELECT a, b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
                    FROM cand WHERE bit_count(xor(sa, sb)) <= 3
                """,
        "dd16_minhash_estimate": f"""
                    WITH bands AS MATERIALIZED ({_MINHASH_BANDS_SQL}),
                    pairs AS (
                      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                      FROM bands l JOIN bands r
                        ON l.band_id = r.band_id AND l.band_hash = r.band_hash
                      WHERE l.doc_id < r.doc_id
                    ),
                    sh AS ({_SHINGLES3}),
                    hx AS (SELECT doc_id, {_HASH32.format(x='shingle')} AS x FROM sh),
                    sig AS (
                      SELECT doc_id,
        {_MINHASH_TERMS}
                      FROM hx GROUP BY doc_id
                    ),
                    est AS (
                      SELECT p.a, p.b,
                             ({" + ".join(f"CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END" for j in range(16))})
                               AS n_match
                      FROM pairs p
                      JOIN sig sa ON sa.doc_id = p.a
                      JOIN sig sb ON sb.doc_id = p.b
                    ),
                    sizes AS (SELECT doc_id, count(*) AS n FROM hx GROUP BY doc_id),
                    inter AS (
                      SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS i
                      FROM hx l JOIN hx r ON l.x = r.x AND l.doc_id < r.doc_id
                      GROUP BY 1, 2
                    )
                    SELECT e.a, e.b, CAST(e.n_match AS INTEGER) AS n_match,
                           CAST(e.n_match AS DOUBLE) / 16.0 AS est_jaccard,
                           coalesce(CAST(i.i AS DOUBLE)
                                    / (sa.n + sb.n - i.i), 0.0) AS jaccard
                    FROM est e
                    JOIN sizes sa ON e.a = sa.doc_id
                    JOIN sizes sb ON e.b = sb.doc_id
                    LEFT JOIN inter i ON i.a = e.a AND i.b = e.b
                """,
        "dd15_containment": f"""
                    WITH sh AS ({_SHINGLES3}),
                    hx AS (SELECT doc_id, {_HASH32.format(x='shingle')} AS x FROM sh),
                    sizes AS (SELECT doc_id, count(*) AS n FROM hx GROUP BY doc_id),
                    inter AS (
                      SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS intersect_size
                      FROM hx l JOIN hx r ON l.x = r.x AND l.doc_id < r.doc_id
                      GROUP BY 1, 2
                    )
                    SELECT a, b, intersect_size,
                           CAST(intersect_size AS DOUBLE)
                             / CAST(sa.n AS DOUBLE) AS containment_a,
                           CAST(intersect_size AS DOUBLE)
                             / CAST(sb.n AS DOUBLE) AS containment_b
                    FROM inter
                    JOIN sizes sa ON inter.a = sa.doc_id
                    JOIN sizes sb ON inter.b = sb.doc_id
                    WHERE CAST(intersect_size AS DOUBLE) / CAST(sa.n AS DOUBLE) >= 0.5
                       OR CAST(intersect_size AS DOUBLE) / CAST(sb.n AS DOUBLE) >= 0.5
                """,
        "dd28_sig_length_curve": f"""
                    WITH bands AS MATERIALIZED ({_MINHASH_BANDS_SQL}),
                    pairs AS (
                      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                      FROM bands l JOIN bands r
                        ON l.band_id = r.band_id AND l.band_hash = r.band_hash
                      WHERE l.doc_id < r.doc_id
                    ),
                    ids AS (SELECT a AS doc_id FROM pairs
                            UNION SELECT b AS doc_id FROM pairs),
                    sh AS ({_SHINGLES3}),
                    hx AS MATERIALIZED (
                      SELECT sh.doc_id, {_HASH32.format(x='shingle')} AS x
                      FROM sh JOIN ids USING (doc_id)
                    ),
                    sig AS (
                      SELECT doc_id,
        {_MINHASH_TERMS}
                      FROM hx GROUP BY doc_id
                    ),
                    nm AS (
                      SELECT p.a, p.b,
                             ({" + ".join(f"CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END" for j in range(4))})
                               AS n4,
                             ({" + ".join(f"CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END" for j in range(8))})
                               AS n8,
                             ({" + ".join(f"CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END" for j in range(16))})
                               AS n16
                      FROM pairs p
                      JOIN sig sa ON sa.doc_id = p.a
                      JOIN sig sb ON sb.doc_id = p.b
                    ),
                    sizes AS (SELECT doc_id, count(*) AS n FROM hx GROUP BY doc_id),
                    inter AS (
                      SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS i
                      FROM hx l JOIN hx r ON l.x = r.x AND l.doc_id < r.doc_id
                      GROUP BY 1, 2
                    ),
                    pe AS MATERIALIZED (
                      SELECT nm.n4, nm.n8, nm.n16,
                             (coalesce(i.i, 0) * 10000)
                               // (CASE WHEN i.i IS NULL THEN 1
                                   ELSE sa.n + sb.n - i.i END) AS tbp
                      FROM nm
                      JOIN sizes sa ON nm.a = sa.doc_id
                      JOIN sizes sb ON nm.b = sb.doc_id
                      LEFT JOIN inter i ON i.a = nm.a AND i.b = nm.b
                    ),
                    rws AS (
                      SELECT 4 AS k, abs(n4 * 2500 - tbp) AS err_bp FROM pe
                      UNION ALL
                      SELECT 8, abs(n8 * 1250 - tbp) FROM pe
                      UNION ALL
                      SELECT 16, abs(n16 * 625 - tbp) FROM pe
                    ),
                    hist AS (
                      SELECT k,
                             CAST((err_bp // 1000) * 1000 AS INTEGER)
                               AS err_bucket_bp,
                             CAST(count(*) AS BIGINT) AS n_pairs
                      FROM rws GROUP BY 1, 2
                    )
                    SELECT CAST(k AS INTEGER) AS k, err_bucket_bp, n_pairs,
                           CAST((n_pairs * 10000)
                                // (sum(n_pairs) OVER (PARTITION BY k))
                             AS BIGINT) AS share_bp
                    FROM hist
                """,
        "dd27_jaccard_threshold_curve": f"""
                    WITH bands AS ({_MINHASH_BANDS_SQL}),
                    e AS (
                      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                      FROM bands l JOIN bands r
                        ON l.band_id = r.band_id AND l.band_hash = r.band_hash
                      WHERE l.doc_id < r.doc_id
                    ),
                    ids AS (SELECT a AS doc_id FROM e
                            UNION SELECT b AS doc_id FROM e),
                    sh AS ({_SHINGLES3}),
                    hx AS (
                      SELECT sh.doc_id, {_HASH32.format(x='shingle')} AS x
                      FROM sh JOIN ids USING (doc_id)
                    ),
                    sizes AS (SELECT doc_id, count(*) AS n FROM hx GROUP BY doc_id),
                    inter AS (
                      SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS i
                      FROM hx l JOIN hx r ON l.x = r.x AND l.doc_id < r.doc_id
                      GROUP BY 1, 2
                    ),
                    vp AS (
                      SELECT inter.i AS isz,
                             sa.n + sb.n - inter.i AS usz
                      FROM inter
                      JOIN e ON e.a = inter.a AND e.b = inter.b
                      JOIN sizes sa ON inter.a = sa.doc_id
                      JOIN sizes sb ON inter.b = sb.doc_id
                    ),
                    cells AS (
                      SELECT CAST(count(*) AS BIGINT) AS n_candidates,
                             CAST(sum(CASE WHEN isz * 2 >= usz * 1
                                  THEN 1 ELSE 0 END) AS BIGINT) AS np_5000,
                             CAST(sum(CASE WHEN isz * 10 >= usz * 7
                                  THEN 1 ELSE 0 END) AS BIGINT) AS np_7000,
                             CAST(sum(CASE WHEN isz * 10 >= usz * 9
                                  THEN 1 ELSE 0 END) AS BIGINT) AS np_9000
                      FROM vp
                    )
                    SELECT CAST(threshold_bp AS INTEGER) AS threshold_bp,
                           n_pairs, n_candidates,
                           CAST(CASE WHEN n_candidates = 0 THEN 0
                                ELSE (n_pairs * 10000) // n_candidates END
                             AS BIGINT) AS share_of_candidates_bp
                    FROM (
                      SELECT 5000 AS threshold_bp, np_5000 AS n_pairs,
                             n_candidates FROM cells
                      UNION ALL SELECT 7000, np_7000, n_candidates FROM cells
                      UNION ALL SELECT 9000, np_9000, n_candidates FROM cells
                    )
                """,
        "dd19_lsh_verified": f"""
                    WITH bands AS ({_MINHASH_BANDS_SQL}),
                    e AS (
                      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                      FROM bands l JOIN bands r
                        ON l.band_id = r.band_id AND l.band_hash = r.band_hash
                      WHERE l.doc_id < r.doc_id
                    ),
                    ids AS (SELECT a AS doc_id FROM e
                            UNION SELECT b AS doc_id FROM e),
                    sh AS ({_SHINGLES3}),
                    hx AS (
                      SELECT sh.doc_id, {_HASH32.format(x='shingle')} AS x
                      FROM sh JOIN ids USING (doc_id)
                    ),
                    sizes AS (SELECT doc_id, count(*) AS n FROM hx GROUP BY doc_id),
                    inter AS (
                      SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS intersect_size
                      FROM hx l JOIN hx r ON l.x = r.x AND l.doc_id < r.doc_id
                      GROUP BY 1, 2
                    )
                    SELECT i.a, i.b, i.intersect_size,
                           sa.n + sb.n - i.intersect_size AS union_size,
                           CAST(i.intersect_size AS DOUBLE)
                             / (sa.n + sb.n - i.intersect_size) AS jaccard
                    FROM inter i
                    JOIN e ON e.a = i.a AND e.b = i.b
                    JOIN sizes sa ON i.a = sa.doc_id
                    JOIN sizes sb ON i.b = sb.doc_id
                    WHERE CAST(i.intersect_size AS DOUBLE)
                            / (sa.n + sb.n - i.intersect_size) >= 0.5
                """,
        "dd5_ngram_jaccard": f"""
                    WITH sh AS ({_SHINGLES3}),
                    hx AS (SELECT doc_id, {_HASH32.format(x='shingle')} AS x FROM sh),
                    sizes AS (SELECT doc_id, count(*) AS n FROM hx GROUP BY doc_id),
                    inter AS (
                      SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS intersect_size
                      FROM hx l JOIN hx r ON l.x = r.x AND l.doc_id < r.doc_id
                      GROUP BY 1, 2
                    )
                    SELECT a, b, intersect_size,
                           sa.n + sb.n - intersect_size AS union_size,
                           CAST(intersect_size AS DOUBLE)
                             / (sa.n + sb.n - intersect_size) AS jaccard
                    FROM inter
                    JOIN sizes sa ON inter.a = sa.doc_id
                    JOIN sizes sb ON inter.b = sb.doc_id
                    ORDER BY jaccard DESC, a, b LIMIT 20
                """,
        "dd5b_ngram_capped": f"""
                    WITH sh AS ({_SHINGLES3}),
                    hx0 AS (SELECT doc_id, {_HASH32.format(x='shingle')} AS x FROM sh),
                    freq AS (SELECT x, count(*) AS df FROM hx0 GROUP BY x),
                    hx AS (
                      SELECT hx0.doc_id, hx0.x
                      FROM hx0 JOIN freq ON hx0.x = freq.x
                      WHERE freq.df <= 50
                    ),
                    sizes AS (SELECT doc_id, count(*) AS n FROM hx0 GROUP BY doc_id),
                    inter AS (
                      SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS intersect_size
                      FROM hx l JOIN hx r ON l.x = r.x AND l.doc_id < r.doc_id
                      GROUP BY 1, 2
                    )
                    SELECT a, b, intersect_size,
                           sa.n + sb.n - intersect_size AS union_size,
                           CAST(intersect_size AS DOUBLE)
                             / (sa.n + sb.n - intersect_size) AS jaccard
                    FROM inter
                    JOIN sizes sa ON inter.a = sa.doc_id
                    JOIN sizes sb ON inter.b = sb.doc_id
                    ORDER BY jaccard DESC, a, b LIMIT 20
                """,
        "dd22_cluster_agreement": f"""
                    WITH RECURSIVE pairs AS (
                      WITH bands AS ({_MINHASH_BANDS_SQL})
                      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                      FROM bands l JOIN bands r
                        ON l.band_id = r.band_id AND l.band_hash = r.band_hash
                      WHERE l.doc_id < r.doc_id
                    ),
                    edges AS (
                      SELECT a, b FROM pairs
                      UNION SELECT b AS a, a AS b FROM pairs
                    ),
                    reach(node, label) AS (
                      SELECT DISTINCT a AS node, a AS label FROM edges
                      UNION
                      SELECT e.a AS node, r.label
                      FROM edges e JOIN reach r ON r.node = e.b
                    ),
                    cc AS (
                      SELECT node, min(label) AS cluster_id
                      FROM reach GROUP BY node
                    ),
                    asg AS (
                      SELECT d.doc_id,
                             coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
                             d.source
                      FROM documents d LEFT JOIN cc ON d.doc_id = cc.node
                    ),
                    cells AS (
                      SELECT cluster_id, source, count(*) AS n
                      FROM asg GROUP BY 1, 2
                    ),
                    idx AS (
                      SELECT CAST(sum(n * (n - 1) // 2) AS HUGEINT)
                               AS sum_index,
                             CAST(sum(n) AS HUGEINT) AS n_items,
                             count(DISTINCT cluster_id) AS n_a,
                             count(DISTINCT source) AS n_b
                      FROM cells
                    ),
                    sag AS (
                      SELECT CAST(sum(a * (a - 1) // 2) AS HUGEINT) AS sa
                      FROM (SELECT sum(n) AS a FROM cells GROUP BY cluster_id)
                    ),
                    sbg AS (
                      SELECT CAST(sum(b * (b - 1) // 2) AS HUGEINT) AS sb
                      FROM (SELECT sum(n) AS b FROM cells GROUP BY source)
                    ),
                    f AS (
                      SELECT *,
                             2 * (((n_items * (n_items - 1)) // 2)
                                  * sum_index - sa * sb) AS num2,
                             ((n_items * (n_items - 1)) // 2) * (sa + sb)
                               - 2 * sa * sb AS den2
                      FROM idx, sag, sbg
                    )
                    SELECT CAST(n_items AS BIGINT) AS n_items,
                           CAST(n_a AS BIGINT) AS n_clusters,
                           CAST(n_b AS BIGINT) AS n_sources,
                           CAST(sum_index AS BIGINT) AS index_pairs,
                           CAST(sa AS BIGINT) AS sum_a_pairs,
                           CAST(sb AS BIGINT) AS sum_b_pairs,
                           CAST(CASE WHEN den2 = 0 THEN 0
                                WHEN num2 < 0
                                  THEN -(((-num2) * 10000) // den2)
                                ELSE (num2 * 10000) // den2 END AS BIGINT)
                             AS ari_bp
                    FROM f
                """,
        "dd26_shingle_sensitivity": _DD26_SQL,
        "dd25_cluster_size_histogram": f"""
                    WITH RECURSIVE pairs AS (
                      WITH bands AS ({_MINHASH_BANDS_SQL})
                      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                      FROM bands l JOIN bands r
                        ON l.band_id = r.band_id AND l.band_hash = r.band_hash
                      WHERE l.doc_id < r.doc_id
                    ),
                    edges AS (
                      SELECT a, b FROM pairs
                      UNION SELECT b AS a, a AS b FROM pairs
                    ),
                    reach(node, label) AS (
                      SELECT DISTINCT a AS node, a AS label FROM edges
                      UNION
                      SELECT e.a AS node, r.label
                      FROM edges e JOIN reach r ON r.node = e.b
                    ),
                    cc AS (
                      SELECT node, min(label) AS cluster_id
                      FROM reach GROUP BY node
                    ),
                    assign AS (
                      SELECT d.doc_id,
                             coalesce(cc.cluster_id, d.doc_id) AS cluster_id
                      FROM documents d LEFT JOIN cc ON d.doc_id = cc.node
                    ),
                    sizes AS (
                      SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
                      FROM assign GROUP BY cluster_id
                    ),
                    hist AS (
                      SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters
                      FROM sizes GROUP BY sz
                    )
                    SELECT sz AS family_size, n_clusters,
                           CAST(sum(sz * n_clusters) OVER () AS BIGINT)
                             AS n_docs,
                           CAST((sum(CASE WHEN sz >= 2
                                     THEN sz * n_clusters ELSE 0 END) OVER ())
                                * 10000
                                // (sum(sz * n_clusters) OVER ()) AS BIGINT)
                             AS dup_doc_share_bp,
                           CAST(max(sz) OVER () AS BIGINT) AS largest_family
                    FROM hist
""",
        "dd9_dup_clusters": f"""
                    WITH RECURSIVE pairs AS (
                      WITH bands AS ({_MINHASH_BANDS_SQL})
                      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                      FROM bands l JOIN bands r
                        ON l.band_id = r.band_id AND l.band_hash = r.band_hash
                      WHERE l.doc_id < r.doc_id
                    ),
                    edges AS (
                      SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
                    ),
                    reach(node, label) AS (
                      SELECT DISTINCT a AS node, a AS label FROM edges
                      UNION
                      SELECT e.a AS node, r.label FROM edges e JOIN reach r ON r.node = e.b
                    ),
                    cc AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node)
                    SELECT d.doc_id,
                           coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
                           coalesce(cc.cluster_id, d.doc_id) = d.doc_id AS is_canonical
                    FROM documents d LEFT JOIN cc ON d.doc_id = cc.node
                """,
        "dd10_dedup_keeper": f"""
                    WITH RECURSIVE pairs AS (
                      WITH bands AS ({_MINHASH_BANDS_SQL})
                      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                      FROM bands l JOIN bands r
                        ON l.band_id = r.band_id AND l.band_hash = r.band_hash
                      WHERE l.doc_id < r.doc_id
                    ),
                    edges AS (
                      SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
                    ),
                    reach(node, label) AS (
                      SELECT DISTINCT a AS node, a AS label FROM edges
                      UNION
                      SELECT e.a AS node, r.label FROM edges e JOIN reach r ON r.node = e.b
                    ),
                    cc AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node),
                    tc AS (SELECT doc_id, {_TOKEN_COUNT} AS n_tokens FROM documents),
                    sized AS (
                      SELECT cc.node, cc.cluster_id, tc.n_tokens
                      FROM cc JOIN tc ON cc.node = tc.doc_id
                    ),
                    keep AS (
                      SELECT cluster_id, node AS keeper_id FROM (
                        SELECT cluster_id, node,
                               row_number() OVER (PARTITION BY cluster_id
                                 ORDER BY n_tokens DESC, node) AS rn
                        FROM sized
                      ) WHERE rn = 1
                    )
                    SELECT s.node AS doc_id, s.cluster_id, k.keeper_id
                    FROM sized s JOIN keep k USING (cluster_id)
                    WHERE s.node <> k.keeper_id
                """,
        "dd12_incremental_lsh": f"""
                    WITH bands AS ({_MINHASH_BANDS_SQL}),
                    nb AS (SELECT * FROM bands WHERE doc_id % 5 = 0),
                    ob AS (SELECT * FROM bands WHERE doc_id % 5 <> 0),
                    cross_pairs AS (
                      SELECT least(n.doc_id, o.doc_id) AS a,
                             greatest(n.doc_id, o.doc_id) AS b
                      FROM nb n JOIN ob o
                        ON n.band_id = o.band_id AND n.band_hash = o.band_hash
                      WHERE n.doc_id <> o.doc_id
                    ),
                    self_pairs AS (
                      SELECT l.doc_id AS a, r.doc_id AS b
                      FROM nb l JOIN nb r
                        ON l.band_id = r.band_id AND l.band_hash = r.band_hash
                      WHERE l.doc_id < r.doc_id
                    )
                    SELECT DISTINCT a, b FROM (
                      SELECT a, b FROM cross_pairs
                      UNION ALL SELECT a, b FROM self_pairs
                    )
                """,
        "dd13_repeated_spans": f"""
                    WITH toks AS (
                      SELECT doc_id, {_TOKENS} AS ts FROM documents
                      WHERE {_NORM} <> ''
                    ),
                    win AS (
                      SELECT doc_id, CAST(g.i AS BIGINT) AS off,
                             md5(array_to_string(
                               list_slice(ts, CAST(g.i + 1 AS INTEGER),
                                          CAST(g.i + 10 AS INTEGER)), ' ')) AS h
                      FROM toks, LATERAL (
                        SELECT unnest(range(CAST(len(ts) - 10 + 1 AS BIGINT))) AS i
                      ) g
                      WHERE len(ts) >= 10
                    ),
                    dup AS (
                      SELECT doc_id, off FROM (
                        SELECT doc_id, off, count(*) OVER (PARTITION BY h) AS c
                        FROM win
                      ) WHERE c >= 2
                    ),
                    isl AS (
                      SELECT doc_id, off,
                             sum(CASE WHEN prev IS NULL OR off - prev > 10
                                      THEN 1 ELSE 0 END)
                               OVER (PARTITION BY doc_id ORDER BY off) AS island
                      FROM (
                        SELECT doc_id, off,
                               lag(off) OVER (PARTITION BY doc_id
                                              ORDER BY off) AS prev
                        FROM dup
                      )
                    ),
                    spans AS (
                      SELECT doc_id, island, min(off) AS s, max(off) + 9 AS e
                      FROM isl GROUP BY doc_id, island
                    )
                    SELECT doc_id, CAST(count(*) AS INTEGER) AS n_dup_spans,
                           CAST(sum(e - s + 1) AS INTEGER) AS dup_tokens,
                           CAST(max(e - s + 1) AS INTEGER) AS longest_span
                    FROM spans GROUP BY doc_id
                """,
        "dd13b_repeated_spans_sampled": f"""
                    WITH toks AS (
                      SELECT doc_id, {_TOKENS} AS ts FROM documents
                      WHERE {_NORM} <> ''
                    ),
                    win AS (
                      SELECT doc_id, CAST(g.i AS BIGINT) AS off,
                             ('0x' || substr(md5(array_to_string(
                               list_slice(ts, CAST(g.i + 1 AS INTEGER),
                                          CAST(g.i + 10 AS INTEGER)), ' ')),
                               1, 10))::BIGINT * 2097152 + CAST(g.i AS BIGINT)
                               AS comb
                      FROM toks, LATERAL (
                        SELECT unnest(range(CAST(len(ts) - 10 + 1 AS BIGINT))) AS i
                      ) g
                      WHERE len(ts) >= 10 AND len(ts) < 2097152
                    ),
                    m AS (
                      SELECT doc_id,
                             min(comb) OVER (PARTITION BY doc_id ORDER BY off
                                             ROWS BETWEEN CURRENT ROW
                                             AND 7 FOLLOWING) AS m
                      FROM win
                    ),
                    sel AS (
                      SELECT DISTINCT doc_id, m FROM m
                    ),
                    dec AS (
                      SELECT doc_id, m % 2097152 AS off, m // 2097152 AS h
                      FROM sel
                    ),
                    dup AS (
                      SELECT doc_id, off FROM (
                        SELECT doc_id, off, count(*) OVER (PARTITION BY h) AS c
                        FROM dec
                      ) WHERE c >= 2
                    ),
                    isl AS (
                      SELECT doc_id, off,
                             sum(CASE WHEN prev IS NULL OR off - prev > 17
                                      THEN 1 ELSE 0 END)
                               OVER (PARTITION BY doc_id ORDER BY off) AS island
                      FROM (
                        SELECT doc_id, off,
                               lag(off) OVER (PARTITION BY doc_id
                                              ORDER BY off) AS prev
                        FROM dup
                      )
                    ),
                    spans AS (
                      SELECT doc_id, island, min(off) AS s, max(off) + 9 AS e
                      FROM isl GROUP BY doc_id, island
                    )
                    SELECT doc_id, CAST(count(*) AS INTEGER) AS n_dup_spans,
                           CAST(sum(e - s + 1) AS INTEGER) AS dup_tokens,
                           CAST(max(e - s + 1) AS INTEGER) AS longest_span
                    FROM spans GROUP BY doc_id
                """,
        "dd18_intradoc_dedup": f"""
                    WITH toks AS (SELECT doc_id, {_TOKENS} AS ts FROM documents),
                    seg AS (
                      SELECT doc_id, CAST(g.i AS BIGINT) AS seg_idx,
                             array_to_string(
                               list_slice(ts, CAST(g.i * 10 + 1 AS INTEGER),
                                          CAST(g.i * 10 + 10 AS INTEGER)), ' ') AS seg
                      FROM toks, LATERAL (
                        SELECT unnest(range(CAST(ceil(greatest(len(ts), 1) / 10.0)
                                                 AS BIGINT))) AS i
                      ) g
                    ),
                    flagged AS (
                      SELECT doc_id, seg_idx, seg,
                             row_number() OVER (PARTITION BY doc_id, md5(seg)
                                                ORDER BY seg_idx) AS rn
                      FROM seg
                    )
                    SELECT doc_id,
                           CAST(count(*) AS INTEGER) AS n_segs,
                           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INTEGER)
                             AS n_kept,
                           string_agg(seg, ' ' ORDER BY seg_idx)
                             FILTER (WHERE rn = 1) AS deduped_text
                    FROM flagged GROUP BY doc_id
                """,
        "dd17_cdc_segments": f"""
                    WITH w AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
                    b AS (
                      SELECT doc_id, toks,
                             CASE WHEN len(toks) <= 8 THEN []::BIGINT[] ELSE
                               list_filter(generate_series(8, len(toks) - 1),
                                 i -> ('0x' || substr(md5(array_to_string(
                                         list_slice(toks, i - 7, i), ' ')), 1, 8)
                                      )::BIGINT % 16 = 0)
                             END AS bpos
                      FROM w
                    ),
                    sp AS (
                      SELECT doc_id, toks,
                             list_prepend(1, list_transform(bpos, x -> x + 1))
                               AS starts,
                             list_append(bpos, len(toks)) AS ends
                      FROM b
                    ),
                    segrows AS (
                      SELECT doc_id, k,
                             array_to_string(
                               list_slice(toks, starts[k], ends[k]), ' ') AS seg
                      FROM sp, unnest(generate_series(1, len(starts))) AS s(k)
                    ),
                    keep AS (
                      SELECT doc_id, k, seg FROM (
                        SELECT doc_id, k, seg,
                               row_number() OVER (PARTITION BY md5(seg)
                                                  ORDER BY doc_id, k) AS rn
                        FROM segrows) WHERE rn = 1
                    ),
                    agg AS (
                      SELECT doc_id, count(*) AS n_kept,
                             string_agg(seg, ' ' ORDER BY k) AS deduped_text
                      FROM keep GROUP BY doc_id
                    )
                    SELECT sp.doc_id,
                           CAST(len(sp.starts) AS INTEGER) AS n_segs,
                           CAST(coalesce(a.n_kept, 0) AS INTEGER) AS n_kept,
                           coalesce(a.deduped_text, '') AS deduped_text
                    FROM sp LEFT JOIN agg a USING (doc_id)
                """,
        "dd11_segment_dedup": f"""
                    WITH toks AS (
                      SELECT doc_id, {_TOKENS} AS ts FROM documents
                      WHERE {_NORM} <> ''
                    ),
                    seg AS (
                      SELECT doc_id, CAST(g.i AS BIGINT) AS seg_idx,
                             array_to_string(
                               list_slice(ts, CAST(g.i * 10 + 1 AS INTEGER),
                                          CAST(g.i * 10 + 10 AS INTEGER)), ' ') AS seg
                      FROM toks, LATERAL (
                        SELECT unnest(range(CAST(ceil(len(ts) / 10.0) AS BIGINT))) AS i
                      ) g
                      WHERE len(ts) > 0
                    ),
                    kept AS (
                      SELECT doc_id, seg_idx, seg FROM (
                        SELECT doc_id, seg_idx, seg,
                               row_number() OVER (PARTITION BY md5(seg)
                                                  ORDER BY doc_id, seg_idx) AS rn
                        FROM seg
                      ) WHERE rn = 1
                    )
                    SELECT doc_id, CAST(count(*) AS INTEGER) AS n_kept,
                           string_agg(seg, ' ' ORDER BY seg_idx) AS deduped_text
                    FROM kept GROUP BY doc_id
                """,
    }
    # dd8b is the wide-band multi-probe twin of dd8: both are complete
    # Hamming<=3 candidate generators over identical signatures
    # followed by the same exact filter, so one oracle serves both.
    out["dd8b_simhash_wide"] = out["dd8_simhash_pairs"]
    return out
