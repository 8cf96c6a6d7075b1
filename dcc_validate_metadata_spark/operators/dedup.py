"""Deduplication operators: n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup (exact-key groups are one ``groupBy``, inlined
in ``queries/trainingdata.dd_exact_groups``).

Training-data-pipeline operators absent from the reference (its only dedup
is ``if dictionary not in list`` while merging chunks —
``graphql_api/grapheneObjects/helpers.py:204-206``, SURVEY.md U2). All
hashing is md5-based and therefore engine-portable: the DuckDB oracle in
``queries/trainingdata.py`` reproduces every signature bit-for-bit via
``('0x' || substr(md5(x),1,15))::BIGINT`` ≡ Spark
``conv(substring(md5(x),1,15),16,10)``.

Scale notes (100 TB / 10^12 rows):
* shingling + MinHash is one projection pass (no shuffle);
* the LSH band join shuffles only ``(doc_id, band_key)`` pairs — tiny
  compared to the corpus — and candidate verification touches only the
  shingles of candidate docs (semi-join pruning);
* exact pairwise Jaccard (``jaccard_pairs``) is the *correctness oracle*,
  quadratic in bucket size — at scale only ever run it per LSH bucket;
* the cross joins in ``simhash_pairs``/``embedding_cosine_pairs`` are the
  brute-force baselines; the banded variants are the scale path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NUM_MINHASHES = 32
LSH_BAND_ROWS = 2  # 16 bands x 2 rows: catches jaccard>=0.5 w.p. ~0.99


def hash64(c: Column) -> Column:
    """Portable 60-bit hash: first 15 hex chars of md5, as a signed long."""
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long")


def round4(c: Column) -> Column:
    """Half-up rounding to 4 dp via explicit floor(x*1e4+0.5)/1e4 — the
    same IEEE op sequence the DuckDB oracles use, so rounded ratios match
    bit-for-bit across engines (plain round() differs near boundaries:
    DuckDB rounds doubles as if at the decimal boundary, Spark's
    BigDecimal HALF_UP rounds the exact binary value)."""
    return F.floor(c * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)


# --------------------------------------------------------------------------
# shingling
# --------------------------------------------------------------------------

def word_shingles(
    df: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct word n-gram shingles: (id, s). One narrow pass —
    tokenize, slide, dedup per doc — no shuffle."""
    tok = F.split(F.trim(F.col(text_col)), "\\s+")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(tok) - F.lit(n - 1)),
        lambda i: F.concat_ws(" ", F.slice(tok, i, n)),
    )
    return (
        df.filter(F.size(tok) >= n)
        .select(F.col(id_col).alias("id"), F.explode(F.array_distinct(grams)).alias("s"))
    )


# --------------------------------------------------------------------------
# exact + n-gram Jaccard
# --------------------------------------------------------------------------

def jaccard_pairs(shingles: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard-similar pairs (id_a < id_b, jac >= threshold) from a
    distinct-shingle table. Equi-join on the shingle, two-phase count.
    Quadratic per shingle bucket — the oracle path; LSH is the scale path."""
    sizes = shingles.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a = shingles.select(F.col("id").alias("id_a"), "s")
    b = shingles.select(F.col("id").alias("id_b"), "s")
    common = (
        a.join(b, on="s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", round4(jac).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def minhash_signatures(
    shingles: DataFrame,
    num_hashes: int = NUM_MINHASHES,
    with_count: bool = False,
) -> DataFrame:
    """(id, mh_0 … mh_{k-1}[, n]): k min-hashes per doc in ONE aggregation
    pass; ``with_count=True`` folds the per-doc shingle count into the
    same agg so downstream Jaccard verification doesn't rescan shingles.

    Double hashing: h_i(s) = h1(s) + i*h2(s) with h1/h2 the two 48-bit
    halves of ONE md5 — one digest per shingle instead of k (Kirsch &
    Mitzenmacher's composition, standard for Bloom/MinHash families).
    i*h2 <= 31*2^48 < 2^54, so the arithmetic is exact in int64 and the
    DuckDB oracle reproduces every signature value bit-for-bit."""
    md5 = F.md5(F.col("s"))
    h1 = F.conv(F.substring(md5, 1, 12), 16, 10).cast("long")
    h2 = F.conv(F.substring(md5, 13, 12), 16, 10).cast("long")
    hashed = shingles.select(
        "id", *[(h1 + F.lit(i) * h2).alias(f"h{i}") for i in range(num_hashes)]
    )
    aggs = [F.min(f"h{i}").alias(f"mh_{i}") for i in range(num_hashes)]
    if with_count:
        aggs.append(F.count(F.lit(1)).alias("n"))
    return hashed.groupBy("id").agg(*aggs)


def lsh_candidates(
    signatures: DataFrame,
    num_hashes: int = NUM_MINHASHES,
    band_rows: int = LSH_BAND_ROWS,
) -> DataFrame:
    """Band the signature, bucket-join: distinct candidate (id_a < id_b)
    pairs that collide in >= 1 band. Shuffles only (id, band, key)."""
    n_bands = num_hashes // band_rows
    bands = []
    for b in range(n_bands):
        cols = [F.col(f"mh_{b * band_rows + r}").cast("string") for r in range(band_rows)]
        bands.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws(",", *cols)).alias("key"))
        )
    exploded = signatures.select("id", F.explode(F.array(*bands)).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    a = exploded.select(F.col("id").alias("id_a"), "band", "key")
    b2 = exploded.select(F.col("id").alias("id_b"), "band", "key")
    return (
        a.join(b2, on=["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = NUM_MINHASHES,
    band_rows: int = LSH_BAND_ROWS,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → signature → band
    bucket join → exact-Jaccard verification restricted to candidates.
    Returns (id_a, id_b, jaccard) with jaccard >= threshold."""
    sh = word_shingles(df, n=n, id_col=id_col, text_col=text_col)
    sig = minhash_signatures(sh, num_hashes, with_count=True)
    cand = lsh_candidates(
        sig.drop("n"), num_hashes, band_rows
    )
    # verify ONLY candidate pairs: semi-join prune both shingle sides;
    # per-doc shingle counts ride along with the signatures (no rescan).
    # The equality join runs on the 48-bit shingle hash, not the raw
    # n-gram string — a long join key shuffles a fraction of the bytes of
    # a ~20-char string at 10^12 scale, and the DuckDB oracle computes
    # the IDENTICAL md5-derived h1 so any (vanishingly rare, ~2^-49)
    # collision affects both engines the same way
    md5 = F.md5(F.col("s"))
    sh_h = sh.select("id", F.conv(F.substring(md5, 1, 12), 16, 10).cast("long").alias("h"))
    sizes = sig.select("id", "n")
    a = sh_h.join(cand.select(F.col("id_a").alias("id")).distinct(), "id").select(
        F.col("id").alias("id_a"), "h"
    )
    b = sh_h.join(cand.select(F.col("id_b").alias("id")).distinct(), "id").select(
        F.col("id").alias("id_b"), "h"
    )
    common = (
        a.join(b, on="h")
        .join(cand, on=["id_a", "id_b"])  # only LSH-candidate pairs
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", round4(jac).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

SIMHASH_BITS = 60  # fits a signed long with headroom; matches hash64 width


def simhash_df(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash): 60-bit SimHash over whitespace tokens weighted by
    term frequency. The tf weighting is folded into per-OCCURRENCE bit
    votes (sum is linear: Σ_distinct tf·vote == Σ_occurrences vote), so
    there is no (id, token) pre-aggregation — the only shuffle is the
    final groupBy(id), and map-side partial aggregation collapses the
    exploded token stream to one 60-vote row per doc per task before it
    moves. Ties (vote == 0) resolve to bit 0."""
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.col(text_col)), "\\s+")).alias("t"),
    ).select("id", hash64(F.col("t")).alias("h"))
    votes = tok.groupBy("id").agg(
        *[
            F.sum(
                F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"v{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sim = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim + term
    return votes.select("id", sim.alias("simhash"))


def simhash_pairs(sim: DataFrame, max_hamming: int = 12) -> DataFrame:
    """Near-dup pairs by Hamming distance on SimHash. Brute-force cross
    join baseline; at scale, band on 4 x 15-bit prefixes first (any pair
    within hamming<=3 of 60 bits shares one exact 15-bit band)."""
    a = sim.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = sim.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"))
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_pairs_banded(sim: DataFrame, max_hamming: int = 12, n_bands: int = 4) -> DataFrame:
    """Scale path: split the 60-bit SimHash into ``n_bands`` 15-bit bands;
    by pigeonhole any pair with hamming <= n_bands-1 collides on >= 1 exact
    band, so the cross join shrinks to per-bucket joins. For the default
    max_hamming=12 > 3 this is a *recall-bounded* approximation — callers
    wanting exactness at higher radii raise n_bands (> max_hamming)."""
    width = SIMHASH_BITS // n_bands
    mask = (1 << width) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(F.col("simhash"), i * width).bitwiseAND(F.lit(mask)).alias("key"),
            )
            for i in range(n_bands)
        ]
    )
    ex = sim.select("id", "simhash", F.explode(bands).alias("bk")).select(
        "id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    a = ex.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "band", "key")
    b = ex.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "band", "key")
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, on=["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def phash_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 6,
    n_bands: int = 8,
    id_col: str = "image_id",
    phash_col: str = "phash",
) -> DataFrame:
    """Image near-dup pairs by perceptual-hash Hamming distance — the
    image-side LSH story (exact phash dedup catches only bit-identical
    hashes; re-encoded/resized images differ by a few bits). The 64-bit
    phash splits into ``n_bands`` exact-match bands: by pigeonhole any
    pair with hamming <= n_bands-1 collides on >= 1 band, so with the
    defaults (8 bands, radius 6) recall is EXACT and the quadratic
    all-pairs join shrinks to per-bucket joins — the plan that survives
    10^12 images. Verification is one JVM-side
    ``bit_count(a XOR b)``, reproduced bit-for-bit by the DuckDB oracle.
    Returns (id_a, id_b, hamming), id_a < id_b."""
    if max_hamming >= n_bands:
        raise ValueError(
            f"exact recall needs max_hamming < n_bands (got {max_hamming} "
            f">= {n_bands}) — raise n_bands or accept a recall bound"
        )
    width = 64 // n_bands
    mask = (1 << width) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(F.col(phash_col), i * width)
                .bitwiseAND(F.lit(mask))
                .alias("key"),
            )
            for i in range(n_bands)
        ]
    )
    ex = df.select(
        F.col(id_col).alias("id"), F.col(phash_col).alias("ph"),
        F.explode(bands).alias("bk"),
    ).select("id", "ph", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = ex.select(F.col("id").alias("id_a"), F.col("ph").alias("ph_a"), "band", "key")
    b = ex.select(F.col("id").alias("id_b"), F.col("ph").alias("ph_b"), "band", "key")
    ham = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return (
        a.join(b, on=["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --------------------------------------------------------------------------
# embedding cosine near-dup
# --------------------------------------------------------------------------

def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def embedding_cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs by cosine similarity, brute force (id_a < id_b).
    Norms are precomputed once per row so the pair stage does one dot
    product. At scale: LSH-bucket first (similarity.ann_lsh_bucketed)."""
    base = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nrm"),
    )
    a = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", round4(cos).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_cosine_pairs_lsh(
    emb: DataFrame,
    threshold: float = 0.5,
    n_bits: int = 6,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale path for embedding near-dup: sign-LSH bucket join, exact
    cosine only within buckets — O(N^2/2^bits) pairs instead of O(N^2).
    High-cosine pairs land in the same bucket with high probability
    (collision prob per bit = 1 - theta/pi); recall tunable via n_bits."""
    from .similarity import hyperplanes, lsh_bucket

    planes = hyperplanes(dim, n_bits, seed)
    base = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nrm"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    a = base.select("bucket", F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = base.select("bucket", F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, on="bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", round4(cos).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
