"""Unit pins for the corpus-hygiene operators: decontamination,
cross-snapshot dedup, repetition signals, PII scrubbing, TF-IDF."""

from __future__ import annotations

from pyspark.sql import functions as F

from enriched_crime_incident_data_pipeline_spark.datapipe.decontaminate import (
    cross_snapshot_new_docs,
    ngram_contamination,
)
from enriched_crime_incident_data_pipeline_spark.datapipe.tfidf import (
    tfidf_top_terms,
)
from enriched_crime_incident_data_pipeline_spark.functions.text import (
    doc_fingerprint,
    pii_counts,
    repetition_features,
    scrub_pii,
    word_shingles,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_contamination_flags_only_overlapping_docs(spark):
    # eval doc holds "a b c d" (4-gram); train doc 1 contains it,
    # train doc 2 does not
    eval_docs = _docs(spark, [(100, "x a b c d y")])
    train = _docs(
        spark,
        [(1, "p q a b c d r s"), (2, "p q r s t u v w")],
    )
    out = {
        r["doc_id"]: (r["n_shared"], r["contaminated"])
        for r in ngram_contamination(train, eval_docs, n=4).collect()
    }
    assert out[1][1] == 1 and out[1][0] >= 1
    assert out[2] == (0, 0)


def test_overlap_fraction_bounds_and_exact_values(spark):
    # doc 1: every 2-gram of "a b c" ({"a b","b c"}) is in eval -> 1.0;
    # doc 2: one of its two 2-grams hits -> 0.5; doc 3: disjoint -> 0.0
    from enriched_crime_incident_data_pipeline_spark.datapipe.decontaminate import (
        ngram_overlap_fraction,
    )

    eval_docs = _docs(spark, [(100, "a b c")])
    train = _docs(
        spark, [(1, "a b c"), (2, "b c x"), (3, "p q r")]
    )
    out = {
        r["doc_id"]: (r["n_grams"], r["n_shared"], r["overlap_frac"])
        for r in ngram_overlap_fraction(train, eval_docs, n=2).collect()
    }
    assert out[1] == (2, 2, 1.0)
    assert out[2] == (2, 1, 0.5)
    assert out[3] == (2, 0, 0.0)


def test_contamination_short_doc_clamp(spark):
    # a 2-token eval doc still contributes its full text as one gram
    eval_docs = _docs(spark, [(100, "tiny doc")])
    train = _docs(spark, [(1, "tiny doc"), (2, "other words here")])
    out = {
        r["doc_id"]: r["contaminated"]
        for r in ngram_contamination(train, eval_docs, n=8).collect()
    }
    assert out == {1: 1, 2: 0}


def test_cross_snapshot_drops_known_fingerprints(spark):
    old = _docs(spark, [(1, "same text"), (2, "old only")]).withColumn(
        "fingerprint", doc_fingerprint(F.col("text"))
    )
    # doc 10 duplicates doc 1's content modulo case/punctuation —
    # the fingerprint normalizes both to the same key
    new = _docs(spark, [(10, "Same, TEXT!"), (11, "brand new")]).withColumn(
        "fingerprint", doc_fingerprint(F.col("text"))
    )
    kept = [r["doc_id"] for r in cross_snapshot_new_docs(new, old).collect()]
    assert kept == [11]


def test_repetition_features_exact_fractions(spark):
    # "a b a b a" → 2-grams: [a b, b a, a b, b a] → total 4,
    # distinct 2, top 2 → top_frac 0.5, dup_frac 0.5
    docs = _docs(spark, [(1, "a b a b a")])
    grams = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 2)).alias("gram")
    )
    row = repetition_features(grams).collect()[0]
    assert row["n_grams"] == 4
    assert row["distinct_grams"] == 2
    assert row["top_frac"] == 0.5
    assert row["dup_frac"] == 0.5


def test_repetition_no_repeats(spark):
    docs = _docs(spark, [(1, "a b c d")])
    grams = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 2)).alias("gram")
    )
    row = repetition_features(grams).collect()[0]
    assert row["dup_frac"] == 0.0
    assert row["top_frac"] == 1.0 / 3.0


def test_scrub_pii_replaces_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at bob.smith@mail.example.org or 555-1234 now"),
            (2, "no pii in here"),
        ],
        "doc_id long, text string",
    )
    counts = pii_counts(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            scrub_pii(F.col("text")).alias("clean"),
            counts["n_emails"].alias("ne"),
            counts["n_phones"].alias("np"),
        ).collect()
    }
    assert out[1]["clean"] == "mail me at <EMAIL> or <PHONE> now"
    assert (out[1]["ne"], out[1]["np"]) == (1, 1)
    assert out[2]["clean"] == "no pii in here"
    assert (out[2]["ne"], out[2]["np"]) == (0, 0)


def test_tfidf_rare_term_outranks_common(spark):
    # "rare" appears in 1 of 3 docs, "common" in all 3; for doc 1
    # (tf equal) the rare term must score higher
    docs = _docs(
        spark,
        [
            (1, "rare common"),
            (2, "common filler"),
            (3, "common other"),
        ],
    )
    top = tfidf_top_terms(docs, k=1).filter(F.col("doc_id") == 1).collect()
    assert top[0]["term"] == "rare"
    assert top[0]["score"] == 3.0  # tf=1 * N=3 / df=1


def test_tfidf_topk_and_ties_deterministic(spark):
    docs = _docs(spark, [(1, "b a b a"), (2, "c c")])
    rows = tfidf_top_terms(docs, k=2).filter(F.col("doc_id") == 1).collect()
    # a and b tie on tf=2, df=1 → alphabetical tie-break
    assert [r["term"] for r in sorted(rows, key=lambda r: r["rnk"])] == ["a", "b"]


def test_bloom_decontaminate_no_false_negatives(spark):
    """The Bloom flag must be a SUPERSET of the exact flag (a Bloom
    filter has no false negatives; false positives are allowed and
    md5-deterministic). Checked on real testdata against the exact
    broadcast-set contamination report."""
    from enriched_crime_incident_data_pipeline_spark.datapipe.decontaminate import (
        bloom_decontaminate,
        ngram_contamination,
    )
    from enriched_crime_incident_data_pipeline_spark.sources import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    eval_docs = docs.filter(F.col("doc_id") % 50 == 0).select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 50 != 0).select("doc_id", "text")
    exact = {
        r["doc_id"]: r["contaminated"]
        for r in ngram_contamination(train, eval_docs, n=8).collect()
    }
    bloom = {
        r["doc_id"]: r["contaminated"]
        for r in bloom_decontaminate(train, eval_docs, n=8).collect()
    }
    assert set(bloom) == set(exact)
    assert all(v in (0, 1) for v in bloom.values())
    missed = [d for d, v in exact.items() if v == 1 and bloom[d] != 1]
    assert missed == []


def test_unigram_lm_scores_hand_computed(spark):
    """3-doc corpus, hand-checked add-one-smoothed inverse
    probabilities: N=6 instances, V=3 types → term = 9/(c+1)."""
    from enriched_crime_incident_data_pipeline_spark.datapipe.lm import (
        unigram_lm_scores,
    )

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a b"), (3, "z")],
        "doc_id long, text string",
    )
    # counts: a=3, b=2, z=1; N=6, V=3 → ip(a)=9/4, ip(b)=9/3, ip(z)=9/2
    got = {r["doc_id"]: r for r in unigram_lm_scores(docs).collect()}
    assert got[1]["n_tokens"] == 3
    assert got[1]["mean_inv_prob"] == (9 / 4 + 9 / 4 + 9 / 3) / 3
    assert got[2]["mean_inv_prob"] == (9 / 4 + 9 / 3) / 2
    assert got[3]["mean_inv_prob"] == 9 / 2
    # rare-token doc scores strictly higher (the quality signal)
    assert got[3]["mean_inv_prob"] > got[1]["mean_inv_prob"]


def test_unigram_lm_scores_partitioning_invariant(spark):
    """The position-ordered fold makes the score independent of data
    partitioning — same bits at 1 and 13 shuffle partitions."""
    from enriched_crime_incident_data_pipeline_spark.datapipe.lm import (
        unigram_lm_scores,
    )
    from enriched_crime_incident_data_pipeline_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    one = {
        r["doc_id"]: r["mean_inv_prob"]
        for r in unigram_lm_scores(docs.coalesce(1)).collect()
    }
    many = {
        r["doc_id"]: r["mean_inv_prob"]
        for r in unigram_lm_scores(docs.repartition(13)).collect()
    }
    assert one == many  # bit-exact, no tolerance


def test_segment_dedup_keeps_first_occurrence(spark):
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        segment_dedup,
    )

    # 2-token segments; 'x y' appears in docs 1, 2 and twice in doc 3;
    # only doc 1's copy (lowest doc_id, seg_idx) survives
    docs = spark.createDataFrame(
        [
            (1, "x y a b"),
            (2, "x y c d"),
            (3, "e f x y x y"),
            (4, "g h"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_kept"], r["deduped_text"])
        for r in segment_dedup(docs, seg_tokens=2).collect()
    }
    assert got[1] == (2, "x y a b")
    assert got[2] == (1, "c d")
    assert got[3] == (1, "e f")
    assert got[4] == (1, "g h")

    # a doc that is ALL duplicate segments disappears entirely
    docs2 = docs.union(
        spark.createDataFrame([(5, "x y")], "doc_id long, text string")
    )
    got2 = {r["doc_id"] for r in segment_dedup(docs2, seg_tokens=2).collect()}
    assert 5 not in got2 and got2 == {1, 2, 3, 4}


def test_bpe_pretokens_segmentation(spark):
    from enriched_crime_incident_data_pipeline_spark.functions.text import (
        bpe_pretokens,
        bpe_token_count,
    )

    df = spark.createDataFrame(
        [
            (1, "Don't stop me now!"),
            (2, "abc123  def"),
            (3, "hello, World"),
        ],
        "id long, text string",
    )
    got = {
        r["id"]: (r["toks"], r["n"])
        for r in df.select(
            "id",
            bpe_pretokens(F.col("text")).alias("toks"),
            bpe_token_count(F.col("text")).alias("n"),
        ).collect()
    }
    # contraction split, leading spaces attach to the next word,
    # punctuation separate, case preserved
    assert got[1][0] == ["Don", "'t", " stop", " me", " now", "!"]
    # double space: the lookahead-free pattern groups the whole run as
    # one whitespace token (GPT-2's (?!\S) would leave one space for
    # 'def' — the documented RE2-compat difference)
    assert got[2][0] == ["abc", "123", "  ", "def"]
    assert got[3][0] == ["hello", ",", " World"]
    assert all(n == len(t) for t, n in got.values())


def test_incremental_lsh_equals_full_restriction(spark):
    """Incremental probing of the standing band index reproduces
    exactly the full-corpus candidate pairs that touch a new doc —
    the invariant that lets a growing corpus dedup without ever
    re-joining itself."""
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        incremental_lsh_pairs,
        lsh_candidate_pairs,
        minhash_bands,
    )
    from enriched_crime_incident_data_pipeline_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    new_docs = docs.filter(F.col("doc_id") % 5 == 0)
    old_docs = docs.filter(F.col("doc_id") % 5 != 0)

    incr = {
        (r["a"], r["b"])
        for r in incremental_lsh_pairs(
            minhash_bands(new_docs), minhash_bands(old_docs)
        ).collect()
    }
    full = {
        (r["a"], r["b"])
        for r in lsh_candidate_pairs(minhash_bands(docs)).collect()
        if r["a"] % 5 == 0 or r["b"] % 5 == 0
    }
    assert incr == full and incr  # non-trivial on the fixture


def test_minhash_rowwise_matches_grouped(spark):
    """The shuffle-free row-wise MinHash must be bit-identical to the
    explode+groupBy formulation on real data plus edge shapes (short
    docs, single-token docs)."""
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        minhash_bands,
        minhash_bands_grouped,
    )
    from enriched_crime_incident_data_pipeline_spark.sources import load_table

    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
        .union(
            spark.createDataFrame(
                [(90_001, "one two"), (90_002, "solo"), (90_003, "a b c d e")],
                "doc_id long, text string",
            )
        )
    )
    row = {
        (r["doc_id"], r["band_id"]): r["band_hash"]
        for r in minhash_bands(docs).collect()
    }
    grouped = {
        (r["doc_id"], r["band_id"]): r["band_hash"]
        for r in minhash_bands_grouped(docs).collect()
    }
    assert row == grouped and len(row) == 503 * 4

    # the row-wise plan is map-only: zero exchanges before banding
    plan = minhash_bands(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(doc_id" not in plan


def _minhash_model(text: str, a, b, p: int, shingle_words=3, band_size=4):
    """Plain-Python MinHash of one document: normalize, tokenize,
    3-word shingles (a short document is one shingle of all its
    tokens), md5-prefix hash32, ``(a·x + b) mod p`` minima, and each
    band's md5 over the '-'-joined minima as raw bytes."""
    import hashlib
    import re

    norm = re.sub(r"[^a-z0-9]+", " ", text.lower()).strip()
    toks = re.split(r" +", norm)
    n_sh = max(len(toks) - (shingle_words - 1), 1)
    shingles = {" ".join(toks[i : i + shingle_words]) for i in range(n_sh)}
    xs = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in shingles]
    sigs = tuple(min((aj * x + bj) % p for x in xs) for aj, bj in zip(a, b))
    bands = {
        (k, hashlib.md5("-".join(map(str, sigs[k * band_size : (k + 1) * band_size])).encode()).digest())
        for k in range(len(sigs) // band_size)
    }
    return sigs, bands


def test_minhash_matches_python_model(spark):
    """minhash_sigs, with_minhash_cols and minhash_bands (row-wise,
    built from SQL text) equal a plain-Python model bit for bit,
    including a document shorter than 3 tokens and an empty text."""
    import random

    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_PRIME,
        minhash_bands,
        minhash_sigs,
        with_minhash_cols,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(60)] + ["Alpha", "beta-gamma", "x.y"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 40))))
        for i in range(18)
    ]
    rows += [(100, "Two words!"), (101, "")]
    docs = _docs(spark, rows).withColumn("tag", F.lit("t"))
    model = {
        i: _minhash_model(t, MINHASH_A, MINHASH_B, MINHASH_PRIME) for i, t in rows
    }

    sigs = {r[0]: tuple(r[1:]) for r in minhash_sigs(docs).collect()}
    assert sigs == {i: m[0] for i, m in model.items()}
    appended = with_minhash_cols(docs)
    assert appended.columns == docs.columns + [f"mh{j}" for j in range(16)]
    assert {r[0]: tuple(r[3:]) for r in appended.collect()} == sigs
    bands = {}
    for r in minhash_bands(docs).collect():
        bands.setdefault(r["doc_id"], set()).add(
            (r["band_id"], bytes(r["band_hash"]))
        )
    assert bands == {i: m[1] for i, m in model.items()}


def test_seed_lm_scores_out_of_domain_scores_higher(spark):
    """ta14: docs made of tokens the seed never saw take the smoothed
    maximum term (N+V)/1; seed-like docs score strictly lower."""
    from enriched_crime_incident_data_pipeline_spark.datapipe.lm import (
        seed_lm_scores,
    )

    seed = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog sat on the rug")],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame(
        [(10, "the cat sat"), (11, "zxqv wjkp qqzz")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r["seed_mean_inv_prob"]
        for r in seed_lm_scores(seed, cand).collect()
    }
    # seed stats: N=12 tokens, V=7 distinct -> max term = 19.0
    assert rows[11] == 19.0
    assert rows[10] < rows[11]


def test_containment_catches_quoted_excerpt(spark):
    """dd15: a short doc quoted verbatim inside a long one has
    containment 1.0 even though its Jaccard is small."""
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = " ".join(f"quote{i}" for i in range(8))
    long = " ".join(f"body{i}" for i in range(80)) + " " + short
    docs = spark.createDataFrame(
        [(1, short), (2, long)], "doc_id long, text string"
    )
    rows = ngram_containment_pairs(docs, min_containment=0.9).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["a"], r["b"]) == (1, 2)
    assert r["containment_a"] == 1.0
    jac = ngram_jaccard_pairs(docs).collect()[0]["jaccard"]
    assert jac < 0.1, "Jaccard must miss what containment catches"


def test_bpe_merge_learning_hand_corpus(spark):
    """tok1: merge 1 is the modal adjacent pair; the greedy pass over
    a run 'a a a' fuses only the first two (textbook BPE); round-2
    counts are taken over the re-segmented corpus."""
    from enriched_crime_incident_data_pipeline_spark.datapipe.bpe import (
        SEP,
        learn_bpe_merges,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat ate the cat food"),
            (3, "a a a the cat"),
        ],
        "doc_id bigint, text string",
    )
    rows = {r["it"]: r for r in learn_bpe_merges(docs, iters=3).collect()}
    assert (rows[1]["a"], rows[1]["b"], rows[1]["cnt"]) == ("the", "cat", 4)
    # 'a a a' counts the overlapping pair twice pre-merge...
    assert (rows[2]["a"], rows[2]["b"], rows[2]["cnt"]) == ("a", "a", 2)
    # ...and round 3 sees the re-segmented [a·a, a, the·cat]: the
    # lexicographically-least count-1 pair is (a, the·cat)
    assert (rows[3]["a"], rows[3]["b"]) == ("a", f"the{SEP}cat")
    assert rows[3]["cnt"] == 1


def test_wordpiece_encode_matches_python_model(spark):
    """tok3: vocab induction + greedy longest-match, pinned against
    an independent pure-Python model of the same spec (every corpus
    char + top-k 2/3-grams by (count desc, piece asc); longest match
    at each position, 3 > 2 > 1)."""
    import hashlib
    from collections import Counter

    from enriched_crime_incident_data_pipeline_spark.datapipe.wordpiece import (
        wordpiece_encode,
    )

    texts = {
        1: "the cat sat on the mat",
        2: "the cat ate the cat food",
        3: "catalog the theme theory",
        4: "a ca cat cata catal catalo catalog",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id bigint, text string"
    )
    top_k = 6

    # independent model
    words = {i: t.split() for i, t in texts.items()}
    counts = Counter()
    singles = set()
    for ws in words.values():
        for w in ws:
            singles.update(w)
            for n in (2, 3):
                for p in range(len(w) - n + 1):
                    counts[w[p : p + n]] += 1
    multi = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
    vocab = singles | {p for p, _ in multi}

    def encode(w):
        out, p = [], 0
        while p < len(w):
            for n in (3, 2, 1):
                if w[p : p + n] in vocab and len(w[p : p + n]) == n:
                    out.append(w[p : p + n])
                    p += n
                    break
        return out

    expected = {}
    for i, ws in words.items():
        encs = [encode(w) for w in ws]
        fp = "|".join(" " + " ".join(e) for e in encs)
        expected[i] = (
            len(ws),
            sum(len(e) for e in encs),
            hashlib.md5(fp.encode()).hexdigest(),
        )

    got = {
        r["doc_id"]: (r["n_words"], r["n_pieces"], r["fp"])
        for r in wordpiece_encode(docs, top_k=top_k).collect()
    }
    assert got == expected


def test_bpe_kernel_matches_expression_fold(spark):
    """The linear Arrow-kernel merge pass and the ordered aggregate
    string fold are the same function: identical merges AND identical
    per-doc encode lengths on real corpus data (r5 rewrite — the
    kernel is the 100 TB read path, the fold is the oracle twin)."""
    from enriched_crime_incident_data_pipeline_spark.datapipe.bpe import (
        bpe_encode_lengths,
        learn_bpe_merges,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mk = {r["it"]: (r["a"], r["b"], r["cnt"])
          for r in learn_bpe_merges(docs, iters=3, use_kernel=True).collect()}
    me = {r["it"]: (r["a"], r["b"], r["cnt"])
          for r in learn_bpe_merges(docs, iters=3, use_kernel=False).collect()}
    assert mk == me and len(mk) == 3
    ek = {r["doc_id"]: (r["n_raw"], r["n_bpe"])
          for r in bpe_encode_lengths(docs, iters=3, use_kernel=True).collect()}
    ee = {r["doc_id"]: (r["n_raw"], r["n_bpe"])
          for r in bpe_encode_lengths(docs, iters=3, use_kernel=False).collect()}
    assert ek == ee


def test_wordpiece_kernel_matches_expression_fold(spark):
    """Kernel (map-only, no shuffle) == explode+fold+groupBy path,
    including the exact segmentation fingerprint."""
    from enriched_crime_incident_data_pipeline_spark.datapipe.wordpiece import (
        wordpiece_encode,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    k = {r["doc_id"]: (r["n_words"], r["n_pieces"], r["fp"])
         for r in wordpiece_encode(docs, top_k=40, use_kernel=True).collect()}
    e = {r["doc_id"]: (r["n_words"], r["n_pieces"], r["fp"])
         for r in wordpiece_encode(docs, top_k=40, use_kernel=False).collect()}
    assert k == e and len(k) > 0


def test_bpe_sampled_training_matches_full(spark):
    """tok4 contract: on a corpus whose pair frequencies are
    unambiguous under halving, hash-sample-trained merges equal
    full-corpus-trained merges, and the full-corpus encode under the
    sampled table is well-formed (n_bpe <= n_raw, every doc)."""
    from enriched_crime_incident_data_pipeline_spark.datapipe.bpe import (
        bpe_encode_sampled,
        learn_bpe_merges,
        learn_bpe_merges_sampled,
    )

    # 40 docs, frequencies engineered so the top-3 pairs dominate in
    # every hash half: each doc repeats the dominant bigrams.
    docs = spark.createDataFrame(
        [(i, "the cat sat on the cat mat " * 3) for i in range(40)],
        "doc_id bigint, text string",
    )
    full = [(r["a"], r["b"]) for r in
            learn_bpe_merges(docs, iters=3).orderBy("it").collect()]
    samp = [(r["a"], r["b"]) for r in
            learn_bpe_merges_sampled(docs, iters=3, sample_bp=5000)
            .orderBy("it").collect()]
    assert full == samp
    enc = bpe_encode_sampled(docs, iters=3, sample_bp=5000).collect()
    assert len(enc) == 40
    assert all(r["n_bpe"] <= r["n_raw"] for r in enc)


def test_tokenizer_long_document_linear(spark):
    """The r4 judge's one super-linear plan: growing-string folds cost
    O(d^2) per d-token doc. The kernel paths must handle a ~100k-token
    document outright (the fold would need ~10^10 char copies); pin
    correctness of the encode on a long doc with known structure."""
    from enriched_crime_incident_data_pipeline_spark.datapipe.bpe import (
        bpe_encode_lengths,
    )
    from enriched_crime_incident_data_pipeline_spark.datapipe.wordpiece import (
        wordpiece_encode,
    )

    long_text = "alpha beta gamma delta " * 25_000  # 100k tokens
    docs = spark.createDataFrame(
        [(1, long_text), (2, "alpha beta short doc")],
        "doc_id bigint, text string",
    )
    wp = {r["doc_id"]: r for r in wordpiece_encode(docs, top_k=8).collect()}
    assert wp[1]["n_words"] == 100_000
    assert wp[1]["n_pieces"] > 0
    bp = {r["doc_id"]: r for r in bpe_encode_lengths(docs, iters=2).collect()}
    assert bp[1]["n_raw"] == 100_000
    # 2 merges over a 4-token cycle: adjacent-pair winners fuse two
    # bigrams per cycle -> exactly half the symbols remain
    assert bp[1]["n_bpe"] == 50_000


def test_bpe_vectorized_merge_matches_reference_model():
    """Pure-numpy adversarial pin (no Spark): the dictionary-encoded
    vectorized rule replay == the sequential merge_pair model over
    randomized corpora heavy in same-symbol runs (the one case where
    matches overlap and greedy parity matters)."""
    import random

    import numpy as np

    from enriched_crime_incident_data_pipeline_spark.datapipe.bpe import (
        _apply_rules_np,
        _flatten_batch,
        merge_pair,
    )

    rng = random.Random(42)
    alphabet = ["a", "b", "c"]
    for trial in range(50):
        docs = [
            [rng.choice(alphabet) for _ in range(rng.randrange(0, 12))]
            for _ in range(rng.randrange(1, 6))
        ]
        rules = []
        for _ in range(rng.randrange(1, 4)):
            ma = rng.choice(alphabet)
            rules.append((ma, rng.choice(alphabet + [ma])))  # bias runs
        expected = []
        for d in docs:
            cur = list(d)
            for ma, mb in rules:
                cur = merge_pair(cur, ma, mb)
            expected.append(cur)
        codes, doclen, ul, um = _flatten_batch(
            [np.array(d, dtype=object) for d in docs]
        )
        codes, doclen = _apply_rules_np(codes, doclen, ul, um, rules)
        su = np.array(ul + [""], dtype=object)
        got = [
            list(x) for x in np.split(su[codes], np.cumsum(doclen)[:-1])
        ]
        assert got == expected, (trial, docs, rules)


def test_scrub_contaminated_spans_hand_mask(spark):
    """Surgical decontamination against a hand-built case: exactly the
    8 tokens covered by the colliding gram disappear, everything else
    survives in order; clean docs pass through untouched."""
    from enriched_crime_incident_data_pipeline_spark.datapipe.decontaminate import (
        scrub_contaminated_spans,
    )

    ev = spark.createDataFrame(
        [(100, "a b c d e f g h")], "doc_id bigint, text string"
    )
    train = spark.createDataFrame(
        [
            (1, "x1 x2 a b c d e f g h y1 y2"),
            (2, "p q r s t u v w x y z"),
            (3, "a b c d e f g h"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: r
        for r in scrub_contaminated_spans(train, ev, n=8).collect()
    }
    assert got[1]["n_tokens"] == 12
    assert got[1]["n_masked"] == 8
    assert got[1]["scrubbed_text"] == "x1 x2 y1 y2"
    assert got[2]["n_masked"] == 0
    assert got[2]["scrubbed_text"] == "p q r s t u v w x y z"
    # fully-covered doc: everything masked, empty survivor
    assert got[3]["n_masked"] == 8
    assert got[3]["scrubbed_text"] == ""


def test_char_bpe_wordhist_matches_python_model(spark):
    """tok5/tok6 semantics: frequency-weighted character BPE over the
    word histogram must equal a naive Python trainer that walks the
    FULL corpus (the Sennrich reduction — merges never cross word
    boundaries, so distinct-words-weighted-by-freq is exact)."""
    from enriched_crime_incident_data_pipeline_spark.datapipe.bpe import (
        SEP,
        bpe_encode_chars,
        learn_bpe_merges_chars,
        merge_pair,
    )

    texts = [
        (1, "banana bandana ban"),
        (2, "banana banana cabana"),
        (3, "nab ban banana"),
        (4, ""),
    ]
    docs = spark.createDataFrame(texts, "doc_id bigint, text string")

    # naive full-corpus model: char symbol stream per word occurrence
    words = [w for _, t in texts for w in t.split() if w]
    seqs = [list(w) for w in words]

    def pair_counts(ss):
        c: dict = {}
        for s in ss:
            for x, y in zip(s, s[1:]):
                c[(x, y)] = c.get((x, y), 0) + 1
        return c

    expect = []
    for it in range(1, 4):
        pc = pair_counts(seqs)
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        expect.append((it, a, b, cnt))
        seqs = [merge_pair(s, a, b) for s in seqs]

    got = [
        (r["it"], r["a"], r["b"], r["cnt"])
        for r in learn_bpe_merges_chars(docs, iters=3).orderBy("it").collect()
    ]
    assert got == expect

    # encode: per-doc piece counts under the final merged state
    pieces = {}
    for w, s in zip(words, seqs):
        pieces[w] = len(s)
    enc = {
        r["doc_id"]: (r["n_words"], r["n_chars"], r["n_bpe"])
        for r in bpe_encode_chars(docs, iters=3).collect()
    }
    for doc_id, t in texts:
        ws = [w for w in t.split() if w]
        if not ws:
            assert doc_id not in enc
            continue
        assert enc[doc_id] == (
            len(ws),
            sum(len(w) for w in ws),
            sum(pieces[w] for w in ws),
        )
    # fused symbols join with the US byte: every multi-char symbol in
    # the merge table is a SEP-joined fusion, and later rounds do
    # produce at least one such fused operand on this corpus
    fused = [s for _, a, b, _ in expect for s in (a, b) if len(s) > 1]
    assert fused and all(SEP in s for s in fused)


def test_char_bpe_weighted_counts_partition_invariant(spark):
    """The weighted pair-count kernel (np.add.at int64 accumulation)
    must give identical merges under any physical partitioning of the
    word histogram."""
    from enriched_crime_incident_data_pipeline_spark.datapipe.bpe import (
        learn_bpe_merges_chars,
    )

    rows = [(i, ("zab " * (i % 5 + 1)) + "zzz aab") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    one = [
        tuple(r)
        for r in learn_bpe_merges_chars(docs.coalesce(1), iters=3)
        .orderBy("it")
        .collect()
    ]
    many = [
        tuple(r)
        for r in learn_bpe_merges_chars(docs.repartition(13), iters=3)
        .orderBy("it")
        .collect()
    ]
    assert one == many


def test_postings_blocks_hand_fixture(spark):
    """Blocked postings: block cut at the block-size boundary, first
    doc of each block costed raw and the rest as gaps, skip bounds
    per block, stopword cap drops the everywhere-token, and the term
    shard only builds its own tokens (verified by a Python model of
    the same fixture)."""
    import hashlib

    from enriched_crime_incident_data_pipeline_spark.datapipe.retrieval import (
        build_postings_blocks,
    )

    # token "bg" in every doc (dropped by the 1/2 cap); "rare" in doc
    # 3 and 40 only; "mid" in docs 0..9 → with block=4: 3 blocks
    rows = []
    for i in range(50):
        parts = ["bg"]
        if i in (3, 40):
            parts.append("rare")
        if i < 10:
            parts.append("mid mid")  # duplicate occurrences collapse
        rows.append((i, " ".join(parts)))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    def shard_of(tok):
        return int(hashlib.md5(f"shard:{tok}".encode()).hexdigest()[:8], 16)

    # build EVERY shard so the fixture covers all tokens
    out = []
    for s in range(3):
        out += build_postings_blocks(
            docs, block=4, shard_mod=3, shard=s,
            max_df_num=1, max_df_den=2,
        ).collect()
    got = {
        (r["token"], r["block_id"]): (
            r["df"], r["block_len"], r["min_docid"], r["max_docid"],
            r["gap_bits"],
        )
        for r in out
    }

    def bits(x):
        return len(bin(x)[2:]) if x > 0 else 1

    # "bg": df=50 > 25 → dropped. "rare": [3, 40] one block:
    # raw(3)=2 bits + gap(37)=6 bits. "mid": docs 0..9, blocks
    # [0,1,2,3], [4,5,6,7], [8,9]
    exp = {
        ("rare", 0): (2, 2, 3, 40, bits(3) + bits(40 - 3)),
        ("mid", 0): (10, 4, 0, 3, bits(0) + 3 * bits(1)),
        ("mid", 1): (10, 4, 4, 7, bits(4) + 3 * bits(1)),
        ("mid", 2): (10, 2, 8, 9, bits(8) + bits(1)),
    }
    assert got == exp
    # shard containment: every emitted token belongs to the shard it
    # was built in
    for s in range(3):
        for r in build_postings_blocks(
            docs, block=4, shard_mod=3, shard=s,
            max_df_num=1, max_df_den=2,
        ).collect():
            assert shard_of(r["token"]) % 3 == s


def test_trigram_search_scattered_grams_are_pruned(spark):
    """Adversarial fixture: a doc containing every query trigram at
    SCATTERED positions (the trigram-containment false positive) must
    be pruned by the exact residual verify; true matches report the
    1-based first-occurrence position; a doc missing one gram never
    becomes a candidate."""
    from enriched_crime_incident_data_pipeline_spark.datapipe.retrieval import (
        trigram_substring_search,
    )

    q = "abcde"  # grams: abc, bcd, cde
    rows = [
        (1, "xx" + q + "yy"),          # match at pos 3
        (2, "abcZZbcdZZcdeZZ"),         # all grams, scattered -> no
        (3, "abcZZbcdZZ"),              # missing 'cde' -> no
        (4, q),                         # match at pos 1
        (5, "zzzzz"),                   # nothing
        (6, "cdebcdabc" + q),           # grams before the match too
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: r["pos"]
        for r in trigram_substring_search(docs, q).collect()
    }
    assert got == {1: 3, 4: 1, 6: 10}


def test_trigram_search_matches_python_in_operator(spark):
    """Property: indexed search == Python substring scan on random
    small-alphabet strings (dense trigram collisions)."""
    import random

    from enriched_crime_incident_data_pipeline_spark.datapipe.retrieval import (
        trigram_substring_search,
    )

    rng = random.Random(99)
    texts = [
        "".join(rng.choice("abc") for _ in range(rng.randint(0, 40)))
        for _ in range(300)
    ]
    q = "abca"
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    got = {
        r["doc_id"]: r["pos"]
        for r in trigram_substring_search(docs, q).collect()
    }
    exp = {
        i: t.index(q) + 1 for i, t in enumerate(texts) if q in t
    }
    assert got == exp and len(exp) > 0


def test_phrase_search_overlaps_and_order(spark):
    """Phrase semantics pinned: overlapping self-adjacent matches
    count individually ("x x x" has two "x x"), order matters
    ("b a" is not "a b"), 3-term phrases need full adjacency, and
    punctuation normalizes away before positions are assigned."""
    from enriched_crime_incident_data_pipeline_spark.datapipe.retrieval import (
        phrase_search,
    )

    rows = [
        (1, "x x x y"),          # "x x" twice (overlap)
        (2, "a b a b"),          # "a b" twice, "b a" once
        (3, "a, b! c"),          # punctuation: "a b c" matches
        (4, "a c b"),            # no adjacency
        (5, ""),                 # empty doc
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    def run(phrase):
        return {
            r["doc_id"]: r["n_occurrences"]
            for r in phrase_search(docs, phrase).collect()
        }

    assert run("x x") == {1: 2}
    assert run("a b") == {2: 2, 3: 1}
    assert run("b a") == {2: 1}
    assert run("a b c") == {3: 1}


def test_tok12_vocab_drift_injected_shift(spark):
    """Hand fixture for the vocab-drift semantics (r9 verdict item
    6): snapshot A = doc_ids 0..4 (median cut of 0..9) speaks only
    {aa, bb}; docs 5..9 inject a vocabulary shift — five occurrences
    of the brand-new token cc and one more bb. Expected, by hand:
    A has 10 occ (5 aa + 5 bb); B has 16 (5 aa + 6 bb + 5 cc).
    new_types = 1 (cc), new_type_occ = 5, oov_bp = 5*10000//16 =
    3125. Every k budget ≥ vocab size covers everything → cov 10000
    both sides, delta 0 (the curve shape: a NEW-token shift shows in
    OOV mass, not in coverage at generous budgets)."""
    import os
    import tempfile

    from enriched_crime_incident_data_pipeline_spark.registry import (
        spark_queries,
    )

    rows = []
    for i in range(5):
        rows.append((i, "aa bb"))
    for i in range(5, 10):
        extra = " bb" if i == 5 else ""
        rows.append((i, "cc" + extra))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    d = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = {
        r["k_budget"]: (
            r["cov_a_bp"],
            r["cov_b_bp"],
            r["cov_delta_bp"],
            r["new_types"],
            r["new_type_occ"],
            r["oov_bp"],
        )
        for r in spark_queries()["tok12_vocab_drift"](spark, d).collect()
    }
    want = (10000, 10000, 0, 1, 5, 3125)
    assert got == {256: want, 1024: want, 4096: want}


def test_ta16_zipf_profile_matches_explicit_ranking(spark):
    """The level-interval overlap formulation must equal the naive
    'rank every token, bucket by bit-length' model — valid because
    bucket occupancy is invariant to which token takes which rank
    WITHIN an equal-count level. Random multiset fixture, fixed
    seed."""
    import os
    import random
    import tempfile

    from enriched_crime_incident_data_pipeline_spark.registry import (
        spark_queries,
    )

    rng = random.Random(77)
    vocab = [f"w{i}" for i in range(60)]
    words = [rng.choice(vocab) for _ in range(800)]
    rows, chunk = [], 25
    for i in range(0, len(words), chunk):
        rows.append((i // chunk, " ".join(words[i : i + chunk])))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    d = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = {
        r["rank_bucket"]: (r["n_tokens"], r["occ"], r["occ_share_ppm"])
        for r in spark_queries()["ta16_zipf_profile"](spark, d).collect()
    }

    from collections import Counter

    counts = sorted(Counter(words).values(), reverse=True)
    total = sum(counts)
    want: dict[int, list[int]] = {}
    for rank, c in enumerate(counts, start=1):
        k = rank.bit_length()
        want.setdefault(k, [0, 0])
        want[k][0] += 1
        want[k][1] += c
    expect = {
        k: (n, occ, occ * 1000000 // total) for k, (n, occ) in want.items()
    }
    assert got == expect
