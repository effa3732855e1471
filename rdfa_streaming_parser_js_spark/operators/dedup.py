"""Document deduplication operators: exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

All native DataFrame ops (explode → groupBy → join); no Python UDFs.
Scale shape: every variant is (map-side fan-out) → (partial agg) →
(equi-join on a bucket key) — the self-join never goes all-pairs, it is
always restricted to a shared-bucket key (shingle, LSH band, cosine
block), which is what keeps it feasible at 10^12 documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.text import doc_fingerprint
from .storage import track

# Deterministic MinHash parameters: h_i(x) = (a_i*x + b_i) mod P, over
# md5-prefix shingle values. P = 2^31-1 keeps a*h < 2^62 so the modular
# arithmetic stays inside ANSI-safe long math (no overflow).
MINHASH_PRIME = 2147483647  # 2^31 - 1 (Mersenne)
DEFAULT_NUM_HASHES = 32
DEFAULT_BANDS = 8  # → rows per band = num_hashes / bands

# SimHash signature width.  60 (not 64) because the base hash is the
# 60-bit md5 prefix below; the 4-bit narrowing changes nothing
# structurally (bands and Hamming filters derive from the width).
SIMHASH_BITS = 60


def md5_hash60(col) -> F.Column:
    """Deterministic 60-bit hash: the first 15 hex digits of md5.

    Chosen over ``xxhash64`` so the DuckDB oracle reproduces signatures
    bit-for-bit (``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``) —
    MinHash/SimHash outputs become fully hash-gated instead of
    rows-only.  Always non-negative, so modular arithmetic needs no
    sign handling on either engine.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_hash60_sql(expr: str) -> str:
    """The DuckDB mirror of :func:`md5_hash60` over SQL ``expr``."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def _minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs via a tiny LCG (seeded, no RNG state)."""
    params, x = [], 88172645463325252
    for _ in range(num_hashes):
        x = (6364136223846793005 * x + 1442695040888963407) % (1 << 63)
        a = (x % (MINHASH_PRIME - 1)) + 1
        x = (6364136223846793005 * x + 1442695040888963407) % (1 << 63)
        b = x % MINHASH_PRIME
        params.append((a, b))
    return params


def shingles(docs: DataFrame, id_col: str = "doc_id",
             text_col: str = "text", n: int = 3) -> DataFrame:
    """(id, shingle) — distinct word n-gram shingles per document.
    Documents shorter than ``n`` tokens yield no shingles (guarded:
    ``sequence(1, size-(n-1))`` would otherwise run DESCENDING for
    short docs and crash the job on an out-of-range element_at —
    one tweet-sized row in a 100 TB corpus must not abort the pass)."""
    toks = F.split(F.col(text_col), " ")
    count = F.size(toks) - (n - 1)
    grams = F.when(count >= 1, F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j).cast("int"))
                   for j in range(n)]))
    ).otherwise(F.array().cast("array<string>"))
    return (docs.select(F.col(id_col).alias("id"),
                        F.explode(F.array_distinct(grams)).alias("shingle")))


def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                  n: int = 8, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Benchmark decontamination — flag training documents that share
    ANY word ``n``-gram with a held-out evaluation set (the GPT-3
    appendix-C / Llama-style "dirty document" filter; 13-gram overlap
    in the original, parameterized here because the synthetic docs are
    short).  Returns one row per corpus document:
    ``(id, n_contaminated_ngrams, contaminated)`` — the count is over
    the document's DISTINCT n-grams, so a repeated leaked span counts
    once.

    Scale shape: both sides reuse :func:`shingles` (pure codegen
    tokenize + gram explode, zero Python).  The benchmark n-gram set
    is distinct-reduced and BROADCAST — eval suites are tiny next to a
    100 TB corpus (10^6–10^8 grams), so the contamination probe is a
    map-side hash-semi-join with NO shuffle of the corpus grams; the
    only shuffle is the per-document count aggregation (map-side
    combinable on the doc id).  For a pathological benchmark too big
    to broadcast, drop the hint and the same plan degrades to one
    sort-merge join keyed on the gram — never all-pairs."""
    grams = shingles(corpus, id_col, text_col, n)
    bench = (shingles(benchmark, id_col, text_col, n)
             .select("shingle").distinct())
    hits = (grams.join(F.broadcast(bench), "shingle", "inner")
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_contaminated_ngrams")))
    ids = corpus.select(F.col(id_col).alias("id"))
    return (ids.join(hits, "id", "left")
            .select("id",
                    F.coalesce(F.col("n_contaminated_ngrams"),
                               F.lit(0)).alias("n_contaminated_ngrams"),
                    (F.coalesce(F.col("n_contaminated_ngrams"),
                                F.lit(0)) > 0).alias("contaminated")))


def decontaminate_sql(n: int = 8, table: str = "documents",
                      bench_filter: str = "doc_id % 11 = 3") -> str:
    """DuckDB mirror of :func:`decontaminate` with the benchmark as a
    filtered slice of ``table`` — identical distinct-gram semantics."""
    gram = f"""
          SELECT doc_id AS id,
                 unnest(list_distinct(list_transform(
                   range(1, greatest(len(t) - {n - 1}, 0) + 1),
                   i -> array_to_string(t[i:i + {n - 1}], ' ')))) AS shingle
          FROM (SELECT doc_id, string_split(text, ' ') AS t
                FROM {table}{{where}})"""
    return f"""
        WITH dc_grams AS ({gram.format(where="")}),
        dc_bench AS (SELECT DISTINCT shingle
                     FROM ({gram.format(where=" WHERE " + bench_filter)})),
        dc_hits AS (SELECT id, count(*) AS n_contaminated_ngrams
                    FROM dc_grams JOIN dc_bench USING (shingle)
                    GROUP BY id)
        SELECT d.doc_id AS id,
               coalesce(h.n_contaminated_ngrams, 0)
                 AS n_contaminated_ngrams,
               coalesce(h.n_contaminated_ngrams, 0) > 0 AS contaminated
        FROM {table} d LEFT JOIN dc_hits h ON d.doc_id = h.id"""


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Content-hash dedup: every doc tagged with its cluster fingerprint,
    canonical = lowest id in cluster (dup_rank 1)."""
    from pyspark.sql import Window
    fp = docs.select(F.col(id_col).alias("id"),
                     doc_fingerprint(F.col(text_col)).alias("fingerprint"))
    w = Window.partitionBy("fingerprint").orderBy("id")
    return (fp.withColumn("dup_rank", F.row_number().over(w).cast("long"))
            .withColumn("is_duplicate", F.col("dup_rank") > 1))


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.5) -> DataFrame:
    """Near-dup pairs by EXACT n-gram Jaccard, PPJoin-style.

    A naive shingle-bucket self-join is quadratic in the document
    frequency of each shingle — hot shingles ("of the and") own the
    runtime and get worse at scale.  Prefix filtering makes the join
    exact AND sub-quadratic:

    1. order every document's shingles by ascending global document
       frequency (rarest first, ties by shingle);
    2. for Jaccard ≥ t a pair must share a shingle within each side's
       first ``floor((1-t)·|A|) + 1`` shingles — so only *prefixes* are
       indexed/joined, and prefixes are dominated by RARE shingles
       (small buckets, no skew);
    3. the size filter ``t·|A| ≤ |B| ≤ |A|/t`` prunes candidates in the
       join condition itself;
    4. exact intersection counts are computed only for surviving
       candidate pairs.

    Same output as the naive join (the DuckDB oracle is the naive
    all-shared-shingles formulation), ~linear in data size for fixed
    near-dup density.

    Storage envelope at 100 TB: the exploded shingle table is
    ≈ tokens × docs rows — far beyond executor RAM, so it is persisted
    DISK_ONLY (local spill, streamed back per use), never MEMORY.
    It is tracked: callers running many queries in one session call
    ``storage.release_tracked()`` after materializing results.
    """
    sh = track(shingles(docs, id_col, text_col, n).persist(
        StorageLevel.DISK_ONLY))
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))

    # Exact rational arithmetic for the prefix length and size filter:
    # float forms like floor((1-0.9)*10) evaluate to 0 instead of 1
    # (double rounding), silently dropping qualifying pairs.  With
    # t = t_num/t_den: prefix_len = n - ceil(t·n) + 1, all in longs.
    t_num = round(threshold * 1_000_000)
    t_den = 1_000_000

    from pyspark.sql import Window
    w = Window.partitionBy("id").orderBy("df", "shingle")
    n = F.col("n_shingles")
    ceil_tn = F.floor((F.lit(t_num) * n + F.lit(t_den - 1)) / F.lit(t_den))
    ranked = (sh.join(freq, "shingle")
              .withColumn("pos", F.row_number().over(w))
              .join(sizes, "id"))
    prefix = ranked.filter(F.col("pos") <= n - ceil_tn + 1)

    pa_ = prefix.select(F.col("id").alias("id_a"), "shingle",
                        F.col("n_shingles").alias("n_a"))
    pb_ = prefix.select(F.col("id").alias("id_b"), "shingle",
                        F.col("n_shingles").alias("n_b"))
    cand = (pa_.join(pb_,
                     (pa_.shingle == pb_.shingle)
                     & (pa_.id_a < pb_.id_b)
                     # t·|A| ≤ |B| and t·|B| ≤ |A|, integer-exact
                     & (F.lit(t_num) * pa_.n_a <= F.lit(t_den) * pb_.n_b)
                     & (F.lit(t_num) * pb_.n_b <= F.lit(t_den) * pa_.n_a))
            .select("id_a", "id_b", "n_a", "n_b")
            .distinct())

    sa = sh.select(F.col("id").alias("id_a"), "shingle")
    sb = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (cand.join(sa, "id_a")
             .join(sb, ["id_b", "shingle"])
             .groupBy("id_a", "id_b", "n_a", "n_b")
             .agg(F.count(F.lit(1)).alias("n_common")))
    # threshold gate in EXACT integer arithmetic (the reported jaccard
    # column is rounded for display; filtering on the rounded value
    # would admit pairs up to 5e-7 BELOW threshold)
    from fractions import Fraction
    fr = Fraction(threshold).limit_denominator(1_000_000)
    union = F.col("n_a") + F.col("n_b") - F.col("n_common")
    return (inter
            .filter(F.col("n_common") * F.lit(fr.denominator)
                    >= union * F.lit(fr.numerator))
            .withColumn("jaccard",
                        F.round(F.col("n_common") / union, 6))
            .select("id_a", "id_b", "jaccard"))


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       num_hashes: int = DEFAULT_NUM_HASHES,
                       n: int = 3) -> DataFrame:
    """(id, sig: array<bigint>) MinHash signatures — one shuffle:
    explode shingles → groupBy(id) with num_hashes min() aggregates
    (map-side partial aggregation does the heavy lifting)."""
    sh = shingles(docs, id_col, text_col, n)
    hv = F.pmod(md5_hash60(F.col("shingle")), F.lit(MINHASH_PRIME))
    mins = [
        F.min(F.pmod(hv * F.lit(a) + F.lit(b), F.lit(MINHASH_PRIME)))
        .alias(f"h{i}")
        for i, (a, b) in enumerate(_minhash_params(num_hashes))
    ]
    sig = sh.groupBy("id").agg(*mins)
    return sig.select(
        "id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))


def minhash_lsh_candidates(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           num_hashes: int = DEFAULT_NUM_HASHES,
                           bands: int = DEFAULT_BANDS,
                           n: int = 3) -> DataFrame:
    """LSH banding: split signatures into bands, hash each band, docs
    colliding in any band are candidate near-dups (id_a < id_b).
    ``bands`` must divide ``num_hashes`` — trailing hashes silently
    excluded from every band would change the collision probability
    without telling anyone."""
    if num_hashes % bands:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes} — "
            f"{num_hashes % bands} trailing hash(es) would never "
            "influence any band")
    rows = num_hashes // bands
    sig = minhash_signatures(docs, id_col, text_col, num_hashes, n)
    band_arr = F.array(*[
        md5_hash60(F.concat_ws(
            ",", F.lit(bi), *[F.element_at("sig", bi * rows + r + 1)
                              for r in range(rows)]))
        for bi in range(bands)])
    banded = sig.select(
        "id", F.posexplode(band_arr).alias("band", "band_hash"))
    return (banded.alias("a")
            .join(banded.alias("b"),
                  (F.col("a.band") == F.col("b.band"))
                  & (F.col("a.band_hash") == F.col("b.band_hash"))
                  & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"))
            .distinct())


def simhash64(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text",
              n_bits: int = SIMHASH_BITS) -> DataFrame:
    """(id, simhash) — ``n_bits``-bit SimHash over whitespace tokens
    (default 60: the md5-prefix base hash width, DuckDB-reproducible).

    Per-bit ±1 vote aggregation: explode tokens → n_bits conditional-sum
    aggregates (all map-side combinable) → reassemble the sign bits.
    """
    toks = (docs.select(F.col(id_col).alias("id"),
                        F.explode(F.split(F.col(text_col), " "))
                        .alias("tok"))
            .withColumn("h", md5_hash60(F.col("tok"))))
    votes = [
        F.sum(F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1,
                     F.lit(1)).otherwise(F.lit(-1))).alias(f"v{i}")
        for i in range(n_bits)
    ]
    agg = toks.groupBy("id").agg(*votes)
    bits = [
        F.when(F.col(f"v{i}") > 0,
               F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0))
        for i in range(n_bits)
    ]
    out = agg.withColumn("simhash", bits[0])
    for b in bits[1:]:
        out = out.withColumn("simhash", F.col("simhash").bitwiseOR(b))
    return out.select("id", "simhash")


def simhash_bands(n_bits: int, max_hamming: int) -> tuple[list, list]:
    """(widths, offsets) of the h+1 disjoint pigeonhole bit bands."""
    n_bands = max_hamming + 1
    base, extra = divmod(n_bits, n_bands)
    widths = [base + (1 if b < extra else 0) for b in range(n_bands)]
    offsets = [sum(widths[:b]) for b in range(n_bands)]
    return widths, offsets


def simhash_near_pairs(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       max_hamming: int = 3,
                       n_bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash near-dup pairs via band blocking, recall-exact.

    Pigeonhole: hashes within Hamming distance ≤ h must agree on at
    least one of h+1 disjoint bit bands — so the band count is DERIVED
    from ``max_hamming`` (h+1 bands over the hash width), candidates
    come from band-equality buckets (never all-pairs), and the exact
    Hamming distance (``bit_count(xor)``) filters."""
    if not 0 <= max_hamming < n_bits:
        raise ValueError("max_hamming must be in [0, n_bits)")
    widths, offsets = simhash_bands(n_bits, max_hamming)
    n_bands = max_hamming + 1
    sig = simhash64(docs, id_col, text_col, n_bits)
    bands = F.array(*[
        F.shiftrightunsigned("simhash", offsets[b])
        .bitwiseAND(F.lit((1 << widths[b]) - 1))
        for b in range(n_bands)])
    banded = sig.select("id", "simhash",
                        F.posexplode(bands).alias("band", "band_val"))
    cand = (banded.alias("a")
            .join(banded.alias("b"),
                  (F.col("a.band") == F.col("b.band"))
                  & (F.col("a.band_val") == F.col("b.band_val"))
                  & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"),
                    F.col("a.simhash").alias("sh_a"),
                    F.col("b.simhash").alias("sh_b"))
            .distinct())
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (cand.withColumn("hamming", hamming.cast("int"))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def embedding_near_duplicates(emb: DataFrame, threshold: float = 0.95,
                              block_col: str = "label") -> DataFrame:
    """Cosine near-dup pairs within coarse blocks (IVF-style: ``label``
    plays the centroid-assignment role, so the self-join is per-block,
    never all-pairs)."""
    from .similarity import with_unit_vector
    e = with_unit_vector(emb).select(
        F.col("vec_id").alias("id"), F.col(block_col).alias("block"),
        F.col("unit"))
    dot = F.aggregate(
        F.zip_with(F.col("a.unit"), F.col("b.unit"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x)
    return (e.alias("a")
            .join(e.alias("b"),
                  (F.col("a.block") == F.col("b.block"))
                  & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"),
                    F.round(dot, 5).alias("cosine"))
            .filter(F.col("cosine") >= threshold))


def duplicate_spans(docs: DataFrame, k: int = 8, guarantee: int = 16,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Exact duplicate-SPAN detection — the training-data
    "deduplicating exact substrings" stage (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better") — via
    WINNOWING (Schleimer, Wilkerson & Aiken 2003, the MOSS
    fingerprint): per document, hash every ``k``-token gram, then in
    each window of ``w = guarantee − k + 1`` consecutive gram hashes
    select the RIGHTMOST minimum as an anchor.  Anchor selection
    depends only on local CONTENT, never on the offset within the
    document, so two documents sharing any verbatim run of
    ``≥ guarantee`` tokens are GUARANTEED to select at least one
    identical anchored gram — the phase-independence a naive
    stride-sampled windowing lacks (two copies of the same boilerplate
    at different offsets never align stride grids).

    Returns one row per anchored k-gram occurring in ≥ 2 documents:
    ``(span_hash, span_text, n_docs, n_spans)``.

    Scale shape: tokenize + gram-hash + winnow are pure codegen
    (sequence / transform / slice / array_min — zero Python, zero
    shuffle); ONE map-side-combinable shuffle on the md5 gram hash.
    Boilerplate mega-grams (site chrome repeated across millions of
    pages) are the classic skew key — at 100 TB cap the per-hash
    count with a saturating partial aggregate or salt the hash."""
    w = guarantee - k + 1
    if w < 1:
        raise ValueError("guarantee must be ≥ k")
    toks = F.split(F.col(text_col), " ")
    m = F.greatest(F.size(toks) - F.lit(k - 1), F.lit(1))
    hs = F.transform(
        F.sequence(F.lit(1), m),
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, k))))
    docs = docs.select(F.col(id_col).alias("id"), toks.alias("t"),
                       hs.alias("hs"))
    n_wins = F.greatest(F.size("hs") - F.lit(w - 1), F.lit(1))

    def _rightmost_min(a):
        win = F.slice(F.col("hs"), a, w)
        # rightmost occurrence of the window minimum (the standard
        # winnowing tie-break; ties are real — repeated tokens repeat
        # gram hashes)
        return (a + F.size(win)
                - F.array_position(F.reverse(win), F.array_min(win))
                ).cast("int")
    anchors = F.array_distinct(
        F.transform(F.sequence(F.lit(1), n_wins), _rightmost_min))
    exploded = (docs.select("id", "t", F.explode(anchors).alias("pos"))
                .select("id",
                        F.concat_ws(" ", F.slice(F.col("t"),
                                                 F.col("pos"), k))
                        .alias("span_text")))
    return (exploded
            .select("id", "span_text",
                    F.md5(F.col("span_text")).alias("span_hash"))
            .groupBy("span_hash")
            .agg(F.min("span_text").alias("span_text"),
                 F.countDistinct("id").alias("n_docs"),
                 F.count(F.lit(1)).alias("n_spans"))
            .filter(F.col("n_docs") >= 2))


def duplicate_spans_sql(k: int = 8, guarantee: int = 16,
                        table: str = "documents") -> str:
    """DuckDB mirror of :func:`duplicate_spans` — identical grams,
    winnow windows, rightmost-min tie-break, md5, aggregates.
    ``range()`` is exclusive-end (hence the ``+ 1``) where Spark's
    ``sequence()`` is inclusive."""
    w = guarantee - k + 1
    return f"""
        WITH ds_toks AS (
          SELECT doc_id AS id, string_split(text, ' ') AS t
          FROM {table}),
        ds_h AS (
          SELECT id, t,
                 list_transform(
                   range(1, greatest(len(t) - {k - 1}, 1) + 1),
                   i -> md5(array_to_string(t[i:i + {k - 1}], ' ')))
                 AS hs
          FROM ds_toks),
        ds_anchor AS (
          SELECT id, t,
                 unnest(list_distinct(list_transform(
                   range(1, greatest(len(hs) - {w - 1}, 1) + 1),
                   a -> a + len(hs[a:a + {w - 1}])
                        - list_position(
                            list_reverse(hs[a:a + {w - 1}]),
                            list_min(hs[a:a + {w - 1}]))))) AS pos
          FROM ds_h),
        ds_spans AS (
          SELECT id,
                 array_to_string(t[pos:pos + {k - 1}], ' ')
                   AS span_text
          FROM ds_anchor)
        SELECT md5(span_text) AS span_hash,
               min(span_text) AS span_text,
               CAST(count(DISTINCT id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_spans
        FROM ds_spans GROUP BY md5(span_text)
        HAVING count(DISTINCT id) >= 2
    """
