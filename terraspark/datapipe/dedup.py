"""Deduplication operators: exact, MinHash+LSH, SimHash, token Jaccard.

Designed for 100TB corpora: every stage is (explode -> hash -> groupBy) with
map-side partial aggregation; candidate generation is LSH-band bucketing so
the quadratic pairwise step only runs inside buckets.  Hashing uses md5 (hex
string) so the DuckDB oracle computes bit-identical values.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import spread_input

MINHASH_SEEDS = 8
LSH_BAND_SIZE = 2            # 8 hashes -> 4 bands of 2
# pair-generation bucket cap: a degenerate bucket (e.g. thousands of
# identical empty docs) would make the self-join quadratic inside ONE
# task; buckets above the cap are excluded from pairing (they are almost
# always junk -- boilerplate/empty text) and surfaced by bucket_audit.
# The SQL oracle applies the identical HAVING cap, so engine and oracle
# stay in lockstep at any scale.
DEFAULT_MAX_BUCKET = 5_000
# verify-join token cap: bounds the per-doc vocabulary entering the
# Jaccard verify join (see jaccard_pairs); docs over the cap contribute
# a deterministic md5-ordered token sample and are listed by
# jaccard_cap_audit.  Far above any fixture doc, so small-scale results
# are exact; at corpus scale it caps the skew a single huge doc shared
# by many candidate pairs would concentrate into one task.
MAX_VERIFY_TOKENS = 2_048


def exact_stats(docs: DataFrame) -> DataFrame:
    """Corpus-level exact-dup stats: (n_docs, n_unique, n_dup_groups)."""
    h = docs.select(F.md5("text").alias("h"))
    per = h.groupBy("h").count()
    return per.agg(
        F.sum("count").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_unique"),
        F.sum(F.when(F.col("count") > 1, 1).otherwise(0)).cast("long")
        .alias("n_dup_groups"),
    )


def _tokens(docs: DataFrame) -> DataFrame:
    # spread a narrow scan BEFORE the explode: shuffling the docs is
    # cheap, serializing the token fan-out onto one task is not
    docs = spread_input(docs)
    return docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok"))


def _seed_mins(exploded: DataFrame, unit_col: str, seeds: int) -> DataFrame:
    """(doc_id, seed, minhash) from (doc_id, <unit>) rows: ONE groupBy
    with per-seed MIN aggregates, then an unpack to rows.  Identical
    output to exploding a seed column first (A/B-verified exceptAll-empty
    at sf0.1) but ~2x faster: the seeds x units row blow-up never
    materializes, and the shuffle carries one wide row per doc instead of
    (doc, seed) groups."""
    aggs = [F.min(F.md5(F.concat_ws("_", unit_col, F.lit(str(s)))))
            .alias(f"m{s}") for s in range(seeds)]
    wide = exploded.groupBy("doc_id").agg(*aggs)
    return wide.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(s).alias("seed"), F.col(f"m{s}").alias("minhash"))
            for s in range(seeds)])).alias("x")) \
        .select("doc_id", "x.seed", "x.minhash")


def minhash_signature(docs: DataFrame, seeds: int = MINHASH_SEEDS) -> DataFrame:
    """(doc_id, seed, minhash): min md5(token || '_' || seed) over the
    document's distinct unigram shingles."""
    return _seed_mins(_tokens(docs), "tok", seeds)


def minhash_shingle_signature(docs: DataFrame, k: int = 5,
                              seeds: int = 4) -> DataFrame:
    """(doc_id, seed, minhash) over CHARACTER k-gram shingles -- the
    canonical near-dup MinHash (order-sensitive, unlike the unigram
    variant).

    Implementation: one mapInPandas stage that shingles, hashes and
    min-reduces per document, deduplicating shingles ACROSS the batch in
    a per-batch hash table before hashing.  Byte-identical to the former
    JVM expression form (explode(array_distinct(substring...)) ->
    groupBy(doc_id).agg(min(md5(sh || '_' || seed)))): hashlib.md5 over
    UTF-8 == Spark's md5, Python str slicing counts codepoints exactly
    like Spark's substring, and min over lowercase-hex strings matches
    UTF8String binary ordering -- asserted against the expression form in
    tests/test_minhash_python_parity.py.  Why: the expression form
    evaluated seeds x md5 PER SHINGLE OCCURRENCE (~18M MessageDigest
    round-trips at bench scale -- the single most expensive stage of the
    dedup suite); shingle multiplicity across a batch of documents makes
    the per-batch dedup drop that by 1-2 orders of magnitude (guide
    section 4.2: hand whole batches to native code).  Scale shape
    unchanged: still a single map stage before the signature shuffle,
    the hash table is per-batch (bounded by Arrow batch size), and the
    shuffle still carries seeds narrow rows per doc."""
    import hashlib

    import pandas as pd

    n_seeds = int(seeds)
    kk = int(k)

    def sig(batches):
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                    "seed": pd.Series([], dtype="int32"),
                                    "minhash": pd.Series([], dtype=object)})
                continue
            cache: dict[str, list[str]] = {}
            doc_ids, seed_col, mins = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue        # matches explode(null) -> zero rows
                n = max(len(text) - kk + 1, 1)
                best: list[str] | None = None
                for i in range(n):
                    sh = text[i:i + kk]
                    hs = cache.get(sh)
                    if hs is None:
                        hs = [hashlib.md5(
                            f"{sh}_{s}".encode()).hexdigest()
                            for s in range(n_seeds)]
                        cache[sh] = hs
                    if best is None:
                        best = list(hs)
                    else:
                        for s in range(n_seeds):
                            if hs[s] < best[s]:
                                best[s] = hs[s]
                if best is None:
                    continue
                doc_ids.extend([doc_id] * n_seeds)
                seed_col.extend(range(n_seeds))
                mins.extend(best)
            yield pd.DataFrame({
                "doc_id": pd.Series(doc_ids, dtype=pdf["doc_id"].dtype),
                "seed": pd.Series(seed_col, dtype="int32"),
                "minhash": pd.Series(mins, dtype=object)})

    slim = spread_input(docs).select("doc_id", "text")
    id_type = slim.schema["doc_id"].dataType.simpleString()
    return slim.mapInPandas(
        sig, schema=f"doc_id {id_type}, seed int, minhash string")


def lsh_buckets(signatures: DataFrame,
                band_size: int = LSH_BAND_SIZE) -> DataFrame:
    """(doc_id, band, bucket): bucket = md5 of the band's concatenated
    minhashes (seeds ordered)."""
    return (signatures
            .withColumn("band", (F.col("seed") / band_size).cast("int"))
            .groupBy("doc_id", "band")
            .agg(F.md5(F.concat_ws("|", F.array_sort(
                F.collect_list(F.concat_ws(":", "seed", "minhash")))))
                .alias("bucket")))


def bucket_audit(buckets: DataFrame,
                 max_bucket: int = DEFAULT_MAX_BUCKET) -> DataFrame:
    """Buckets whose size exceeds the pairing cap (log/alert surface)."""
    return (buckets.groupBy("band", "bucket")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") > max_bucket))


def candidate_pairs(buckets: DataFrame,
                    max_bucket: int = DEFAULT_MAX_BUCKET) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing any LSH bucket.

    Buckets larger than ``max_bucket`` are excluded before the self-join
    (skew guard -- see DEFAULT_MAX_BUCKET); audit drops via bucket_audit.

    The bucket table is consumed THREE times (cap sizes + both sides of
    the band self-join) and Spark does not share non-exchange subtrees
    across consumers, so without a cut point each consumer re-runs the
    full signature pipeline upstream (for the char-shingle MinHash that
    is the single most expensive expression stage in the dedup suite --
    measured 2x concurrent re-materializations of a ~400 CPU-sec stage
    at bench scale).  The table itself is narrow (docs x n_bands rows),
    so materialize it once -- the same cut incremental_dedup already
    applies to its tagged bucket table."""
    if not buckets.isStreaming:
        buckets = buckets.localCheckpoint(eager=True)
    sizes = buckets.groupBy("band", "bucket").agg(F.count("*").alias("_n"))
    ok = sizes.where(F.col("_n") <= max_bucket).select("band", "bucket")
    capped = buckets.join(ok, ["band", "bucket"])
    a = capped.select("band", "bucket", F.col("doc_id").alias("doc_a"))
    b = capped.select("band", "bucket", F.col("doc_id").alias("doc_b"))
    return (a.join(b, ["band", "bucket"])
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b").distinct())


def dedup_clusters(pairs: DataFrame, max_iter: int = 30) -> DataFrame:
    """Resolve verified near-dup pairs into clusters and pick one canonical
    document per cluster -- the final step of a real dedup pipeline (LSH
    candidates -> similarity verify -> THIS -> drop non-canonical docs).

    ``pairs`` is any verified (doc_a, doc_b) pair frame (doc_a < doc_b).
    Near-duplication is not transitive, so pairs are resolved into
    connected components: reuses the distributed min-label + pointer-
    jumping CC from :func:`terraspark.vectorize.connected_components`
    (O(log n) rounds, localCheckpoint per round, RuntimeError when
    ``max_iter`` rounds do not converge; the label table is two int64
    columns per clustered doc -- document text never enters the loop).
    Returns one row per doc appearing in >=1 pair:

        (doc_id, cluster, n_members, keep)

    cluster = MIN doc_id of the component (deterministic, SQL-portable);
    keep = True exactly for that minimum member, so ``where(~keep)`` is
    the corpus's drop list.  Singleton docs never enter pairs and are
    implicitly kept -- the output stays proportional to the DUPLICATED
    subset, not the corpus.
    """
    from terraspark.vectorize import connected_components
    # materialize the pair plan ONCE: the CC loop references edges in
    # every iteration, and without a checkpoint Spark re-executes the
    # whole upstream candidate/verify pipeline per round (measured 59 s
    # -> 26 s at sf0.1 for the shingle-LSH + Jaccard pipeline)
    p = pairs.localCheckpoint()
    nodes = (p.select(F.col("doc_a").alias("cell"))
             .unionByName(p.select(F.col("doc_b").alias("cell")))
             .distinct())
    half = p.select(F.col("doc_a").alias("src"),
                    F.col("doc_b").alias("dst"))
    edges = half.unionByName(
        half.select(F.col("dst").alias("src"),
                    F.col("src").alias("dst"))).distinct().localCheckpoint()
    labels = connected_components(nodes, edges, max_iter)
    sizes = labels.groupBy("label").agg(F.count("*").alias("n_members"))
    return (labels.join(sizes, "label")
            .select(F.col("cell").alias("doc_id"),
                    F.col("label").alias("cluster"),
                    F.col("n_members").cast("long").alias("n_members"),
                    (F.col("cell") == F.col("label")).alias("keep")))


def simhash16(docs: DataFrame) -> DataFrame:
    """16-bit SimHash over unigram tokens (bag semantics).

    Bit j of a token's hash = high bit of hex digit j of md5(token); the
    document bit is 1 when the +/-1 vote sum is positive.  Chosen so the
    identical computation is expressible in ANSI SQL (substr + CASE).
    """
    toks = spread_input(docs).select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok"))
    h = toks.select("doc_id", F.md5("tok").alias("h"))
    votes = h.groupBy("doc_id").agg(*[
        F.sum(F.when(F.substring("h", j + 1, 1).isin(
            "8", "9", "a", "b", "c", "d", "e", "f"), 1).otherwise(-1))
        .alias(f"v{j}") for j in range(16)
    ])
    expr = F.lit(0).cast("long")
    for j in range(16):
        expr = expr + F.when(F.col(f"v{j}") > 0,
                             F.lit(1 << (15 - j))).otherwise(0).cast("long")
    return votes.select("doc_id", expr.alias("simhash"))


_HEX = "0123456789abcdef"


def simhash(docs: DataFrame, bits: int = 64) -> DataFrame:
    """Generalized ``bits``-wide SimHash (1..64) over unigram tokens --
    the widening path :func:`simhash16`'s docstring promises for corpus
    scale, where a 16-bit signature space saturates by birthday effect.

    Token-hash bit j = bit (3 - j%4) of md5 hex digit j//4, so up to 64
    independent bits come from the first 16 digits; votes and the final
    sign rule are identical to :func:`simhash16`.  (The 16-bit variant
    keeps its own digit-per-bit layout for its ANSI-SQL oracle;
    this function is the scale path, plan-shape-identical: one explode +
    one groupBy with ``bits`` CASE-sum aggregates, map-side combined.)
    The signature is returned as one int64; bit 63 (bits=64, j=0) lands
    on the sign bit via its two's-complement value, which xor/popcount/
    band-extraction treat as raw bits.
    """
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in [1, 64]: {bits}")
    toks = spread_input(docs).select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok"))
    h = toks.select("doc_id", F.md5("tok").alias("h"))

    def chars(bitpos):          # hex chars whose value has bit `bitpos` set
        return [c for i, c in enumerate(_HEX) if (i >> bitpos) & 1]

    votes = h.groupBy("doc_id").agg(*[
        F.sum(F.when(F.substring("h", j // 4 + 1, 1)
                     .isin(*chars(3 - j % 4)), 1).otherwise(-1))
        .alias(f"v{j}") for j in range(bits)])
    expr = F.lit(0).cast("long")
    for j in range(bits):
        w = bits - 1 - j
        lit = F.lit(-(1 << 63)) if w == 63 else F.lit(1 << w)
        expr = expr + F.when(F.col(f"v{j}") > 0, lit) \
            .otherwise(F.lit(0)).cast("long")
    return votes.select("doc_id", expr.alias("simhash"))


def _capped_tokens(docs: DataFrame, max_tokens: int | None) -> DataFrame:
    """(doc_id, tok) distinct unigrams, optionally truncated to the
    ``max_tokens`` smallest (md5(tok), tok) per doc -- a deterministic,
    SQL-portable sample (md5 ordering is content-keyed, so the kept
    subset is a uniform pseudo-random sample of the doc's vocabulary,
    not a prefix)."""
    toks = _tokens(docs)
    if max_tokens is None:
        return toks
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy(F.md5("tok"), F.col("tok"))
    return (toks.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= max_tokens).drop("_rn"))


def jaccard_cap_audit(docs: DataFrame, max_tokens: int) -> DataFrame:
    """(doc_id, n_tokens) for docs whose distinct-unigram count exceeds
    ``max_tokens`` -- the docs whose Jaccard is estimated from a token
    sample rather than computed exactly."""
    return (_tokens(docs).groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_tokens"))
            .where(F.col("n_tokens") > max_tokens))


def jaccard_pairs(docs: DataFrame, pairs: DataFrame,
                  max_tokens: int | None = None) -> DataFrame:
    """Unigram-set Jaccard similarity for given candidate pairs.

    ``max_tokens`` bounds the per-doc token set entering the verify join
    (truncation rule in :func:`_capped_tokens`): without it one
    pathological pair list -- many pairs all touching one huge doc --
    re-concentrates the exploded join input into the tasks holding that
    doc's tokens, the same skew the LSH bucket cap guards against
    upstream.  With the cap, per-pair join input is <= 2*max_tokens rows
    and the result is the Jaccard of the sampled vocabularies (exact
    whenever both docs fit the cap; over-cap docs are enumerable via
    :func:`jaccard_cap_audit`).  The SQL oracle mirrors the identical
    truncation window."""
    return _pair_overlap(docs, pairs, max_tokens).select(
        "doc_a", "doc_b",
        F.round(F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter")),
                6).alias("jaccard"))


def _pair_overlap(docs: DataFrame, pairs: DataFrame,
                  max_tokens: int | None) -> DataFrame:
    """(doc_a, doc_b, n_inter, na, nb) under the shared capped-token
    rule -- the common core of jaccard_pairs / containment_pairs.

    Scale shape: only docs that actually appear in ``pairs`` are
    tokenized -- the verify is candidate-pair driven, so tokenizing the
    whole corpus (and paying the per-doc cap window over it) three
    times over for the sizes/ta/tb consumers would be pure waste at any
    scale.  ``pairs`` is materialized once (it is the small decision
    table; upstream it is often an expensive LSH plan), the doc set is
    derived from it, and the capped token table is computed once over
    that pruned doc set and materialized for its three consumers."""
    if not pairs.isStreaming:
        pairs = pairs.localCheckpoint(eager=True)
    need = (pairs.select(F.col("doc_a").alias("doc_id"))
            .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
            .distinct())
    toks = _capped_tokens(docs.join(need, "doc_id", "left_semi"), max_tokens)
    if not toks.isStreaming:
        toks = toks.localCheckpoint(eager=True)
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n"))
    ta = toks.select(F.col("doc_id").alias("doc_a"), "tok")
    tb = toks.select(F.col("doc_id").alias("doc_b"), "tok")
    inter = (pairs.join(ta, "doc_a").join(tb, ["doc_b", "tok"])
             .groupBy("doc_a", "doc_b").agg(F.count("*").alias("n_inter")))
    return (inter
            .join(sizes.select(F.col("doc_id").alias("doc_a"),
                               F.col("n").alias("na")), "doc_a")
            .join(sizes.select(F.col("doc_id").alias("doc_b"),
                               F.col("n").alias("nb")), "doc_b"))


def containment_pairs(docs: DataFrame, pairs: DataFrame,
                      max_tokens: int | None = None,
                      min_containment: float = 0.0) -> DataFrame:
    """Asymmetric near-dup verify: (doc_a, doc_b, jaccard, containment)
    with containment = |A .. B| / min(|A|, |B|) -- the metric that
    catches doc-INSIDE-doc duplication (a page quoting another
    wholesale, a concatenation shard containing an original) which
    symmetric Jaccard dilutes below any near-dup threshold: a 100-token
    doc fully contained in a 10,000-token doc has Jaccard ~0.01 but
    containment 1.0.  Same candidate-driven + capped-token scale shape
    as :func:`jaccard_pairs`; rows with containment < ``min_containment``
    are dropped engine-side so only the interesting tail shuffles out."""
    ov = _pair_overlap(docs, pairs, max_tokens)
    cont = F.round(F.col("n_inter") / F.least("na", "nb"), 6)
    return (ov.select(
        "doc_a", "doc_b",
        F.round(F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter")),
                6).alias("jaccard"),
        cont.alias("containment"))
        .where(F.col("containment") >= min_containment))


def simhash_pairs(docs: DataFrame, max_hamming: int = 1,
                  bits: int = 16) -> DataFrame:
    """SimHash near-duplicate JOIN: (doc_a < doc_b, hamming) pairs whose
    ``bits``-wide signatures differ in at most ``max_hamming`` bits.

    Scale path: the signature is split into ``max_hamming + 1`` bit
    bands; by pigeonhole, any pair within the hamming budget agrees
    EXACTLY on at least one band, so candidates come from equi-joins on
    (band, band_value) -- never an O(n^2) comparison -- and the exact
    xor-popcount filter then keeps true pairs only.  The SQL oracle runs
    the direct quadratic definition instead, so the banding logic itself
    is cross-checked (dp_simhash_pairs).

    ``bits``: 16 (default) uses :func:`simhash16`, kept for exact
    ANSI-SQL oracle portability; its signature space saturates around
    10^3-10^4 documents (band values collide by birthday effect and
    candidate counts grow quadratically again).  At corpus scale pass
    a wider signature -- ``bits=64`` routes through :func:`simhash`
    and only the shift/mask constants below change (asserted at 64-bit
    by tests/test_dedup_caps.py)."""
    n_bands = max_hamming + 1
    width = bits // n_bands + (1 if bits % n_bands else 0)
    sig = simhash16(docs) if bits == 16 else simhash(docs, bits=bits)

    def _band_val(i):
        shifted = F.shiftrightunsigned("simhash", i * width)
        if width >= 64:          # single band: the value IS the signature
            return shifted
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    bands = sig.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"), _band_val(i).alias("val"))
            for i in range(n_bands)])).alias("b")) \
        .select("doc_id", "simhash", "b.band", "b.val")
    a = bands.select("band", "val", F.col("doc_id").alias("doc_a"),
                     F.col("simhash").alias("sig_a"))
    b = bands.select("band", "val", F.col("doc_id").alias("doc_b"),
                     F.col("simhash").alias("sig_b"))
    cand = (a.join(b, ["band", "val"])
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", "sig_a", "sig_b").distinct())
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (cand.select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
            .where(F.col("hamming") <= max_hamming))


def word_ngram_hashes(docs: DataFrame, n: int = 8) -> DataFrame:
    """(doc_id, h): md5 of every DISTINCT n-word gram of the document.

    Word n-grams (not char shingles) are the standard unit for benchmark
    decontamination (GPT-3 used 13-grams, Gopher/Chinchilla 8-grams).
    The split + sequence + slice pipeline is a JVM higher-order function
    chain -- one pass, no Python.  Docs shorter than n words emit nothing
    (guarded BEFORE sequence(), whose stop < start would count down)."""
    k = n - 1
    w = (spread_input(docs).select("doc_id", F.split("text", " ").alias("w"))
         .where(F.size("w") >= n))
    return w.select(
        "doc_id",
        F.explode(F.array_distinct(F.expr(
            f"transform(sequence(1, size(w) - {k}), "
            f"i -> md5(concat_ws(' ', slice(w, i, {n}))))"))).alias("h"))


def decontaminate(corpus: DataFrame, eval_docs: DataFrame,
                  n: int = 8) -> DataFrame:
    """Benchmark decontamination: (doc_id, n_hits) for every corpus doc
    sharing at least one n-word gram with the eval/benchmark set.

    Scale shape: the eval set is tiny next to a 100 TB corpus, so its
    distinct gram-hash set is BROADCAST -- the corpus side never
    shuffles its text or grams; only the matched (doc_id, h) hits (a
    vanishingly small fraction) reach the final map-side-combinable
    count-distinct.  n_hits counts DISTINCT contaminated grams per doc,
    the usual severity signal for drop-vs-redact decisions."""
    ev = word_ngram_hashes(eval_docs, n).select("h").distinct()
    hits = word_ngram_hashes(corpus, n).join(F.broadcast(ev), "h")
    return hits.groupBy("doc_id").agg(
        F.count_distinct("h").cast("long").alias("n_hits"))


def paragraph_chunks(docs: DataFrame, chunk_words: int = 10) -> DataFrame:
    """(doc_id, grp, para): the document split into fixed
    ``chunk_words``-word paragraphs (grp = 0-based chunk index).

    The fixture corpus has no newline structure, so the paragraph
    boundary is a fixed word count; with natural text the only change
    is the split expression (``split(text, '\\n\\n')``) -- every
    downstream stage (hashing, argmin, reassembly) is boundary-agnostic.
    Chunking is a JVM higher-order-function chain (split -> sequence ->
    slice -> array_join) inlined per row: the text never round-trips
    through Python and only leaves the row already cut into paragraph
    strings."""
    cw = int(chunk_words)
    w = spread_input(docs).select("doc_id", F.split("text", " ").alias("w"))
    return w.select(
        "doc_id",
        F.expr(
            f"inline(transform(sequence(0, int(ceil(size(w) / {cw}.0)) - 1), "
            f"g -> struct(g as grp, "
            f"array_join(slice(w, g * {cw} + 1, {cw}), ' ') as para)))"))


def paragraph_dedup(docs: DataFrame, chunk_words: int = 10) -> DataFrame:
    """Paragraph-level exact dedup with first-occurrence retention and
    document reassembly (the repeated-boilerplate removal pass of
    RefinedWeb / CCNet-style corpus pipelines, one level below the
    doc-level ``exact_stats``).

    Every paragraph keeps exactly its globally-first occurrence, ordered
    by (doc_id, grp); later copies are dropped and each document is
    re-assembled from its surviving paragraphs in original order.

    Returns (doc_id, n_paras, n_kept, kept_md5) -- kept_md5 is the md5
    of the re-assembled text (NULL when every paragraph was a later
    duplicate), so the oracle cross-checks the reassembly byte-for-byte,
    not just the counts.

    Scale shape: text is cut row-local (paragraph_chunks); the
    first-occurrence argmin is ONE map-side-combinable groupBy on the
    md5 key carrying only a packed (doc_id, grp) struct -- never the
    paragraph text; the winner set joins back on the hash; reassembly
    is a per-doc groupBy whose array_sort runs on (grp, para) of the
    KEPT rows only.  No stage is quadratic and no driver collect."""
    keyed = paragraph_chunks(docs, chunk_words).withColumn("h", F.md5("para"))
    first = keyed.groupBy("h").agg(
        F.min(F.struct("doc_id", "grp")).alias("f"))
    kept = (keyed.join(first, "h")
            .where((F.col("doc_id") == F.col("f.doc_id"))
                   & (F.col("grp") == F.col("f.grp")))
            .select("doc_id", "grp", "para"))
    totals = keyed.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_paras"))
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.expr("md5(array_join(transform(array_sort(collect_list("
               "struct(grp, para))), s -> s.para), ' '))").alias("kept_md5"))
    return (totals.join(rebuilt, "doc_id", "left")
            .select("doc_id", "n_paras",
                    F.coalesce("n_kept", F.lit(0)).cast("long")
                    .alias("n_kept"), "kept_md5"))


def substring_dup_coverage(docs: DataFrame, n: int = 8) -> DataFrame:
    """Exact duplicate-substring coverage (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" signal,
    arXiv:2107.06499, at n-token granularity): for every document, the
    EXACT number of token positions covered by at least one n-gram that
    also occurs verbatim in ANOTHER document.  Returns per doc
    (n_toks, n_dup_grams, covered_tokens, coverage) -- a filter stage
    drops/trims docs above a coverage threshold.

    Coverage is the size of the union of [s, s+n-1] intervals over the
    doc's duplicated gram starts, computed with one per-doc ordered
    window: sum(min(n, s_i - s_{i-1})) with the first term n.  Cross-doc
    only -- a gram repeated inside a single document does not count.

    Scale shape: grams are md5-hashed (16-byte keys, the token text
    never shuffles twice); the duplicate-gram table is one groupBy with
    HAVING over distinct doc counts; the interval union windows over a
    doc's OWN duplicated grams only (bounded by doc length, no corpus-
    wide sort).  This is the exact-substring complement of MinHash
    (whole-doc similarity) and paragraph_dedup (block-exact)."""
    from pyspark.sql import Window
    w = spread_input(docs).select("doc_id", F.split("text", " ").alias("w"))
    lens = w.select("doc_id", F.size("w").cast("long").alias("n_toks"))
    grams = (w.where(F.size("w") >= n)
             .select("doc_id", F.explode(F.expr(
                 f"transform(sequence(0, size(w) - {n}), "
                 f"i -> struct(i as s, md5(concat_ws(' ', "
                 f"slice(w, i + 1, {n}))) as g))")).alias("e"))
             .select("doc_id", "e.s", "e.g"))
    dupg = (grams.groupBy("g")
            .agg(F.count_distinct("doc_id").alias("nd"))
            .where(F.col("nd") >= 2).select("g"))
    dup = grams.join(dupg, "g").select("doc_id", "s")
    win = Window.partitionBy("doc_id").orderBy("s")
    step = F.least(F.lit(n), F.col("s") - F.lag("s").over(win))
    cov = (dup.withColumn("step", F.coalesce(step, F.lit(n)))
           .groupBy("doc_id")
           .agg(F.count("*").cast("long").alias("n_dup_grams"),
                F.sum("step").cast("long").alias("covered_tokens")))
    return (lens.join(cov, "doc_id", "left")
            .select("doc_id", "n_toks",
                    F.coalesce("n_dup_grams", F.lit(0)).cast("long")
                    .alias("n_dup_grams"),
                    F.coalesce("covered_tokens", F.lit(0)).cast("long")
                    .alias("covered_tokens"))
            .withColumn("coverage",
                        F.round(F.col("covered_tokens")
                                / F.col("n_toks"), 6)))


def incremental_dedup(corpus: DataFrame, new_docs: DataFrame,
                      k: int = 5, seeds: int = 12, band_size: int = 6,
                      threshold: float = 0.95,
                      max_bucket: int = DEFAULT_MAX_BUCKET,
                      max_tokens: int = MAX_VERIFY_TOKENS) -> DataFrame:
    """Dedup a NEW shard against an EXISTING corpus plus itself -- the
    continuous-crawl ingestion shape (each crawl snapshot dedups against
    everything already kept, then within itself).

    Returns one row per new doc: (doc_id, verdict) with verdict in
    {'corpus_dup', 'shard_dup', 'kept'}:

    * corpus_dup -- verified >= ``threshold`` Jaccard against at least
      one corpus doc sharing an LSH bucket (dropped);
    * shard_dup  -- no corpus match, but a non-canonical member of a
      verified new-new near-dup cluster (transitive closure, canonical =
      MIN doc_id; pairs touching a corpus_dup doc are excluded first,
      since that doc is already dropped);
    * kept       -- everything else.

    Corpus-corpus pairs are never generated (the corpus is assumed
    already deduplicated), so the pair stage's cost tracks the SHARD
    size, not the corpus: at 100 TB the corpus side contributes only its
    bucket rows to the band join.  Signatures are recomputed here for
    both sides; a production deployment stores the corpus signature /
    bucket table and unions it in, which this composition makes explicit
    (everything downstream of ``lsh_buckets`` only sees bucket rows).
    Doc ids must be globally unique across both inputs.
    """
    all_docs = corpus.select("doc_id", "text").unionByName(
        new_docs.select("doc_id", "text"))
    buckets = lsh_buckets(
        minhash_shingle_signature(all_docs, k=k, seeds=seeds), band_size)
    flags = new_docs.select("doc_id", F.lit(True).alias("is_new"))
    tagged = (buckets.join(F.broadcast(flags), "doc_id", "left")
              .withColumn("is_new", F.coalesce("is_new", F.lit(False))))
    # The bucket table is consumed THREE times below (cap sizes + both
    # sides of the band self-join); without a cut point each consumer
    # re-runs the full char-shingle MinHash over corpus+shard.  The
    # table itself is narrow -- docs x n_bands rows of
    # (band, bucket, doc_id, flag) -- so materialize it once.
    tagged = tagged.localCheckpoint(eager=True)
    sizes = tagged.groupBy("band", "bucket").agg(F.count("*").alias("_n"))
    ok = sizes.where(F.col("_n") <= max_bucket).select("band", "bucket")
    capped = tagged.join(ok, ["band", "bucket"])
    a = capped.select("band", "bucket", F.col("doc_id").alias("doc_a"),
                      F.col("is_new").alias("new_a"))
    b = capped.select("band", "bucket", F.col("doc_id").alias("doc_b"),
                      F.col("is_new").alias("new_b"))
    pairs = (a.join(b, ["band", "bucket"])
             .where((F.col("doc_a") < F.col("doc_b"))
                    & (F.col("new_a") | F.col("new_b")))
             .select("doc_a", "doc_b", "new_a", "new_b").distinct())
    # Verified pairs feed cross_dup AND the new-new closure; checkpoint
    # so the bounded-but-real Jaccard verify join runs once (pair count
    # is capped by max_bucket banding, so this table is small).
    ver = (jaccard_pairs(all_docs, pairs.select("doc_a", "doc_b"),
                         max_tokens=max_tokens)
           .where(F.col("jaccard") >= threshold)
           .join(pairs, ["doc_a", "doc_b"])
           .localCheckpoint(eager=True))
    cross_dup = (ver.where(F.col("new_a") != F.col("new_b"))
                 .select(F.when(F.col("new_a"), F.col("doc_a"))
                         .otherwise(F.col("doc_b")).alias("doc_id"))
                 .distinct())
    nn = (ver.where(F.col("new_a") & F.col("new_b"))
          .select("doc_a", "doc_b")
          .join(cross_dup.withColumnRenamed("doc_id", "doc_a"),
                "doc_a", "left_anti")
          .join(cross_dup.withColumnRenamed("doc_id", "doc_b"),
                "doc_b", "left_anti"))
    shard_dup = dedup_clusters(nn).where(~F.col("keep")).select("doc_id")
    return (new_docs.select("doc_id")
            .join(cross_dup.withColumn("_c", F.lit(True)), "doc_id", "left")
            .join(shard_dup.withColumn("_s", F.lit(True)), "doc_id", "left")
            .select("doc_id",
                    F.when(F.col("_c"), F.lit("corpus_dup"))
                    .when(F.col("_s"), F.lit("shard_dup"))
                    .otherwise(F.lit("kept")).alias("verdict")))


def winnowing(docs: DataFrame, k: int = 3, w: int = 4) -> DataFrame:
    """(doc_id, n_grams, n_windows, n_selected, sel_ratio): MOSS-style
    winnowing fingerprint selection (Schleimer/Wilkerson/Aiken 2003)
    over word k-grams: slide a window of w consecutive k-gram hashes
    and select each window's minimum hash, breaking ties to the
    RIGHTMOST position; the distinct selected positions are the
    document's fingerprints (guaranteed to share a fingerprint with
    any other document matching >= w + k - 1 consecutive words).

    Distributed shape: gram hashes are generated map-side from the
    split-word array (JVM higher-order functions, no UDF); each gram
    row fans out to its <= w member windows (constant factor w), one
    map-side-combinable MIN per window, one DISTINCT + count per doc.
    No window function -> no per-doc sort; text itself never shuffles.

    Rightmost-min is encoded in the MIN key: md5hex (32 chars) ||
    zero-padded (10^7 - pos), so lexicographic MIN picks the smallest
    hash and, among ties, the largest position.  Positions are capped
    at 10^7 grams/doc by the pad width (far above any sane document;
    the paragraph/jaccard caps bound doc length upstream anyway).

    Short docs follow the house shingle convention (dedup.py
    minhash_shingle_signature): n_grams and n_windows floor at 1, so
    every document emits at least one fingerprint."""
    d0 = spread_input(docs).select(
        "doc_id", F.split(F.col("text"), " ").alias("ws"))
    d1 = d0.select(
        "doc_id",
        F.greatest(F.size("ws") - (k - 1), F.lit(1)).alias("n_grams"),
        "ws")
    grams = d1.selectExpr(
        "doc_id", "n_grams",
        f"posexplode(transform(sequence(1, n_grams), "
        f"i -> md5(concat_ws(' ', slice(ws, i, {k}))))) AS (pos, h)")
    key = F.concat(
        F.col("h"),
        F.lpad((F.lit(9999999) - F.col("pos")).cast("string"), 7, "0"))
    member = (grams
              .select("doc_id", "n_grams", "pos", key.alias("key"),
                      F.explode(F.sequence(F.lit(0), F.lit(w - 1)))
                      .alias("j"))
              .withColumn("s", F.col("pos") - F.col("j"))
              .where((F.col("s") >= 0)
                     & (F.col("s") < F.greatest(F.col("n_grams")
                                                - (w - 1), F.lit(1)))))
    wins = member.groupBy("doc_id", "s").agg(F.min("key").alias("mk"))
    sel = (wins.select(
        "doc_id",
        (F.lit(9999999) - F.substring("mk", 33, 7).cast("int"))
        .alias("sp")).distinct())
    cnt = sel.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_selected"))
    base = d1.select(
        "doc_id", F.col("n_grams").cast("long").alias("n_grams"),
        F.greatest(F.col("n_grams") - (w - 1), F.lit(1)).cast("long")
        .alias("n_windows"))
    return (base.join(cnt, "doc_id", "left")
            .select("doc_id", "n_grams", "n_windows",
                    F.coalesce("n_selected", F.lit(0)).cast("long")
                    .alias("n_selected"),
                    F.round(F.coalesce("n_selected", F.lit(0))
                            / F.col("n_windows"), 6).alias("sel_ratio")))
