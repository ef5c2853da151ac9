"""Deduplication operators over a documents table.

Five dedup families, each a first-class operator (BASELINE.json
north-star):

- **exact**: hash-groupBy on normalized text — one shuffle.
- **n-gram Jaccard**: token-shingle inverted-index self-join — the
  exact similarity join. Candidates are pairs sharing ≥1 shingle, so
  cost is Σ_shingle df(shingle)², not O(n²). The Jaccard threshold is
  evaluated on exact integer counts (|A∩B|, |A|, |B|) — engine-portable
  with zero float ambiguity.
- **MinHash + LSH**: k-permutation MinHash signatures → banded LSH
  bucket join for candidates → **exact Jaccard verification** of
  candidates. Output contract equals the exact n-gram join above
  (assuming LSH recall ≈ 1 at the chosen band geometry), which is what
  makes it oracle-checkable. 32 bands × 4 rows catches J≥0.7 pairs
  with probability 1-(1-0.7⁴)^32 ≈ 0.9998.
- **SimHash**: 64-bit sign-of-weighted-sum fingerprint per document;
  near-dups = fingerprints within Hamming distance d (banded join on
  16-bit chunks for candidates).
- **embedding cosine near-dup**: see similarity.py.

Scale notes: all shuffles key on shingle / band-hash / doc-pair —
high-cardinality keys with bounded per-key fanout (stopword-like
shingles should be df-capped via ``max_shingle_df``). MinHash
signatures are 128 longs/doc: 1 B docs ≈ 1 TB of signatures —
shuffle-friendly. Nothing here collects to the driver.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame

from graphem_rapids_spark.checkpoint import checkpoint_count
from graphem_rapids_spark.checkpoint import eager_checkpoint as _eager_ckpt
from graphem_rapids_spark.checkpoint import eager_materialize, owned, persist
from pyspark.sql import functions as F

_MERSENNE31 = (1 << 31) - 1


def tokens_col(text_col="text"):
    return F.split(F.trim(F.lower(F.col(text_col))), r"\s+")


def token_shingles(
    docs: DataFrame, n: int = 4, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, shingle) — distinct n-token shingles (space-joined)."""
    t = docs.select(F.col(id_col), tokens_col(text_col).alias("_t"))
    sh = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("_t") - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice("_t", i, n)),
    )
    return t.select(id_col, F.explode(F.array_distinct(sh)).alias("shingle")).distinct()


def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(text_hash, n_copies, keep_id) — md5-grouped exact dedup;
    keep_id = min doc id of the group (the canonical survivor)."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_copies"), F.min(id_col).alias("keep_id"))
    )


def _pair_jaccard(
    shingles: DataFrame,
    id_col: str,
    candidates: DataFrame | None = None,
    max_shingle_df: int | None = None,
    broadcast_candidates: bool = False,
) -> DataFrame:
    """(doc_a, doc_b, n_common, n_union, jaccard) for pairs sharing ≥1
    shingle (optionally restricted to candidate pairs;
    ``broadcast_candidates`` asserts the caller counted the candidate
    list and it fits a broadcast — enables the map-side doc filter)."""
    base = shingles
    if candidates is not None and broadcast_candidates:
        # Restrict the verify streams to CANDIDATE docs before any
        # heavy work (r8 opt round): the former plan built the full
        # Σ df² pair stream and only then semi-joined the candidate
        # list — at corpus scale that is the all-pairs join LSH exists
        # to avoid. n_common/n_union only read the two member docs'
        # shingle rows, all retained by the semi-join, and the df cap
        # below is computed over the FULL corpus, so df semantics (and
        # therefore every surviving value) are unchanged. ONLY when the
        # caller proved the candidate list small (broadcast_candidates)
        # — a broadcast semi-join filters the shingle stream map-side;
        # the unproven case keeps the unrestricted pair stream rather
        # than paying a full shingle shuffle by doc id (measured: that
        # exchange cost more than the df-capped pair stream it saves
        # at bench scale).
        cd = (
            candidates.select(F.col("doc_a").alias(id_col))
            .unionAll(candidates.select(F.col("doc_b").alias(id_col)))
            .distinct()
        )
        base = shingles.join(F.broadcast(cd), id_col, "left_semi")
    counts = base.groupBy(id_col).agg(F.count("*").alias("_n"))
    sh = base
    if max_shingle_df is not None:
        df_ok = (
            shingles.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(df_ok, "shingle")
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    pairs = a.join(b, "shingle").filter(F.col("doc_a") < F.col("doc_b"))
    if candidates is not None:
        c = F.broadcast(candidates) if broadcast_candidates else candidates
        pairs = pairs.join(c, ["doc_a", "doc_b"], "left_semi")
    common = pairs.groupBy("doc_a", "doc_b").agg(F.count("*").alias("n_common"))
    ca = counts.select(F.col(id_col).alias("doc_a"), F.col("_n").alias("_na"))
    cb = counts.select(F.col(id_col).alias("doc_b"), F.col("_n").alias("_nb"))
    return (
        common.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            (F.col("_na") + F.col("_nb") - F.col("n_common")).alias("n_union"),
            F.round(
                F.col("n_common") / (F.col("_na") + F.col("_nb") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 4,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: all pairs with
    J(A,B) ≥ threshold. The ANN-free ground truth."""
    sh = token_shingles(docs, n, id_col, text_col)
    p = _pair_jaccard(sh, id_col, max_shingle_df=max_shingle_df)
    return p.filter(
        F.col("n_common").cast("double") >= F.lit(threshold) * F.col("n_union")
    )


def _minhash_params(num_perm: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31)) for _ in range(num_perm)]


def minhash_signatures(
    shingles: DataFrame, num_perm: int = 128, seed: int = 1, id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, sig: array<long>) — k-permutation MinHash over
    universal hashes (a·x + b) mod p, x = 31-bit shingle hash.
    One shuffle (the groupBy); 128 min-aggregates fuse into a single
    hash-aggregate pass."""
    params = _minhash_params(num_perm, seed)
    h = F.pmod(F.xxhash64("shingle"), F.lit(_MERSENNE31)).alias("_h")
    sh = shingles.select(F.col(id_col), h)
    # ONE array-of-aggregates expression string: building the 128 min
    # columns through the Column API costs thousands of py4j round
    # trips plus repeated analysis of the widening plan — measured
    # 1.2-1.7 s of pure driver time per invocation vs 0.17 s for the
    # single parsed expression (identical values, schema, and partial
    # map-side aggregation; verified by hash)
    one = (
        "array("
        + ",".join(
            f"min(pmod(_h * {a} + {b}, {_MERSENNE31}))" for a, b in params
        )
        + ") AS sig"
    )
    return sh.groupBy(id_col).agg(F.expr(one))


@owned
def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 4,
    threshold: float = 0.7,
    num_perm: int = 128,
    bands: int = 32,
    seed: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    verify: bool = True,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup join: banded signature buckets generate
    candidates; candidates are verified with **exact** Jaccard so the
    output contract matches ``ngram_jaccard_pairs`` (given recall≈1).

    With verify=False returns raw candidate pairs (doc_a, doc_b) —
    the pure-LSH scale path.

    ``max_shingle_df`` caps the verify join's per-shingle fanout: a
    stopword-like shingle appearing in d documents contributes d² join
    rows — a skew bomb at corpus scale. The cap drops shingles with
    df > cap from intersection counting ONLY (per-doc totals stay
    uncapped), so capped-Jaccard ≤ true Jaccard: every surviving pair
    is a true near-dup, and LSH candidate recall is unaffected (bands
    are built from the full signatures)."""
    assert num_perm % bands == 0
    rows = num_perm // bands
    # row checkpoint, not .persist(): both consumers (the 128-agg
    # signature pass and the verify join) scan every row, so the
    # columnar cache's encoder pass is pure build cost (see
    # checkpoint.eager_materialize)
    sh = eager_materialize(token_shingles(docs, n, id_col, text_col))
    sig = minhash_signatures(sh, num_perm, seed, id_col)
    # single parsed expression (see minhash_signatures — the per-band
    # Column construction cost ~1 s of driver time per invocation)
    band_structs = F.expr(
        "array("
        + ",".join(
            "named_struct('band', {b}, 'bh', xxhash64({args}))".format(
                b=b,
                args=",".join(f"sig[{b * rows + r}]" for r in range(rows)),
            )
            for b in range(bands)
        )
        + ")"
    )
    banded = sig.select(id_col, F.explode(band_structs).alias("_b")).select(
        id_col, F.col("_b.band").alias("band"), F.col("_b.bh").alias("bh")
    )
    a = banded.select(F.col(id_col).alias("doc_a"), "band", "bh")
    b = banded.select(F.col(id_col).alias("doc_b"), "band", "bh")
    cand = (
        a.join(b, ["band", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    if not verify:
        return cand
    # materialize + count the candidate list in one job: it feeds the
    # verify pass TWICE (member-doc filter + exact pair filter), and
    # the count proves whether it fits a broadcast — small candidate
    # lists (the designed regime) then filter the shingle stream
    # MAP-SIDE before the pair join, so the verify join's Σ df² pair
    # stream shrinks to candidate docs only without any new exchange;
    # an oversized candidate list keeps the unrestricted df-capped
    # stream (broadcast↔shuffle dual strategy, as the IC/BFS frontier)
    from graphem_rapids_spark import session

    cand, n_cand = checkpoint_count(cand)
    out = _pair_jaccard(
        sh,
        id_col,
        candidates=cand,
        max_shingle_df=max_shingle_df,
        broadcast_candidates=2 * n_cand <= session.BROADCAST_POSITIONS_MAX,
    ).filter(
        F.col("n_common").cast("double") >= F.lit(threshold) * F.col("n_union")
    )
    # the verified pair set is small (near-dups) — materialize it so
    # the result no longer reads the shingle table (O(corpus) rows) or
    # the candidate checkpoint, and the call frees both at return
    return out.transform(_eager_ckpt)


def simhash_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """(doc_id, simhash) — sign-of-sum SimHash over token hashes.
    bit_j(doc) = 1 iff Σ_tokens (bit_j(xxhash64(tok)) ? 1 : -1) > 0.
    Pure bit arithmetic on the JVM; one explode + one groupBy."""
    t = docs.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("_tok"))
    t = t.select(id_col, F.xxhash64("_tok").alias("_h"))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("_h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_b{j}")
        for j in range(bits)
    ]
    agg = t.groupBy(id_col).agg(*aggs)
    fp = F.lit(0).cast("long")
    for j in range(bits):
        fp = fp + F.when(F.col(f"_b{j}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ) * F.lit(1 << j).cast("long")
    return agg.select(id_col, fp.alias("simhash"))


def simhash60_md5(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, simhash) — 60-bit SimHash whose per-token hash is the
    first 15 hex digits of md5: every operation (md5, hex-digit value,
    bit shifts) exists verbatim in ANSI SQL, so the fingerprint is
    engine-portable and oracle-checkable (unlike the xxhash64 variant).
    Token frequency weighting preserved (explode without distinct)."""
    t = docs.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("_tok"))
    t = t.select(id_col, F.md5("_tok").alias("_h"))
    aggs = []
    for j in range(60):
        dp, b = j // 4 + 1, j % 4
        v = F.expr(f"instr('0123456789abcdef', substring(_h, {dp}, 1)) - 1")
        bit = F.shiftright(v, b).bitwiseAND(F.lit(1))
        aggs.append(F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"_b{j}"))
    agg = t.groupBy(id_col).agg(*aggs)
    fp = F.lit(0).cast("long")
    for j in range(60):
        fp = fp + F.when(F.col(f"_b{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return agg.select(id_col, fp.alias("simhash"))


@owned
def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_a, doc_b, hamming) — pairs within Hamming distance
    ``max_hamming`` of 64-bit SimHash. Candidates via 16-bit-chunk
    banding (pigeonhole: ≤3 differing bits ⇒ ≥1 of 4 chunks equal)."""
    fp = persist(simhash_fingerprints(docs, id_col, text_col))
    chunks = fp.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("simhash"), c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("_c"),
    ).select(id_col, "simhash", F.col("_c.chunk").alias("chunk"), F.col("_c.val").alias("val"))
    a = chunks.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("sa"), "chunk", "val")
    b = chunks.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("sb"), "chunk", "val")
    cand = (
        a.join(b, ["chunk", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sa", "sb")
        .distinct()
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    out = (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        # small near-pair set — materialize so the result no longer
        # reads the O(corpus) fingerprint cache, freed at return
        .transform(_eager_ckpt)
    )
    return out


def substring_span_dedup(
    docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, first_owner, n_dup_spans) — exact substring-span
    dedup in the style of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better", the suffix-array ExactSubstr
    dedup): a document is flagged when any exact ``n``-token span of
    it also occurs in an EARLIER document (lower id = the canonical
    owner, as in exact_duplicates). ``first_owner`` is the lowest
    such owner, ``n_dup_spans`` the number of the document's distinct
    spans that are owned elsewhere — the span-level duplication mass
    the suffix-array method would cut.

    Engine shape (the scale story the suffix array doesn't have): a
    suffix array needs a global sort of every token position; here
    the span table (one row per distinct span per doc) is hashed, the
    per-span min-id owner comes out of ONE map-side-combinable
    groupBy, and flagging is a self-equi-join on the span hash —
    all shuffles key on the span, no global order anywhere. At 100 TB
    the span table is the corpus ×n tokens; hashing spans to longs
    (xxhash64) keeps the shuffle payload fixed-width."""
    spans = token_shingles(docs, n, id_col, text_col).select(
        F.col(id_col), F.xxhash64("shingle").alias("span")
    )
    owners = spans.groupBy("span").agg(F.min(id_col).alias("owner"))
    return (
        spans.join(owners, "span")
        .filter(F.col("owner") < F.col(id_col))
        .groupBy(id_col)
        .agg(
            F.min("owner").alias("first_owner"),
            F.count("*").alias("n_dup_spans"),
        )
    )


def containment_pairs(
    docs: DataFrame,
    n: int = 4,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, n_common, n_a, n_b, containment) — asymmetric
    containment join: pairs where the SMALLER document's shingle set
    is ≥ ``threshold`` contained in the other's
    (C = |A∩B| / min(|A|,|B|), Broder's containment measure). Catches
    quote-inclusion / partial-copy duplication that symmetric Jaccard
    misses: a 50-token excerpt inside a 5000-token page has J ≈ 0.01
    but C = 1.0. Same inverted-index candidate generation as the
    Jaccard join (cost Σ df², df-cappable), threshold evaluated on
    exact integer counts."""
    sh = token_shingles(docs, n, id_col, text_col)
    counts = sh.groupBy(id_col).agg(F.count("*").alias("_n"))
    shf = sh
    if max_shingle_df is not None:
        df_ok = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("shingle")
        )
        shf = shf.join(df_ok, "shingle")
    a = shf.select(F.col(id_col).alias("doc_a"), "shingle")
    b = shf.select(F.col(id_col).alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    ca = counts.select(F.col(id_col).alias("doc_a"), F.col("_n").alias("n_a"))
    cb = counts.select(F.col(id_col).alias("doc_b"), F.col("_n").alias("n_b"))
    return (
        common.join(ca, "doc_a")
        .join(cb, "doc_b")
        .filter(
            F.col("n_common").cast("double")
            >= F.lit(threshold) * F.least("n_a", "n_b")
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(F.col("n_common") / F.least("n_a", "n_b"), 6).alias(
                "containment"
            ),
        )
    )


def prefix_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_order: str = "hash",
    max_token_df: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, n_common, n_union, jaccard) — EXACT token-set
    Jaccard self-join via prefix filtering (the PPJoin family, Xiao et
    al. 2008): every pair with J(A,B) >= ``threshold`` is returned,
    with no probabilistic recall loss — the deterministic complement
    to ``minhash_lsh_pairs`` (same contract as the exact verify pass
    promised at minhash_lsh_pairs; reference context:
    graphem-rapids has no exact similarity join, this is north-star
    surface).

    Prefix rule: under ANY consistent global token order, two sets
    with J >= t must share a token among each one's first
    |s| - ceil(t*|s|) + 1 tokens, so only prefix tokens are indexed.
    ``token_order``:

    - ``"hash"`` (default): order tokens by md5 — map-side,
      shuffle-free. Zero-cost prefixes at the price of more
      candidates.
    - ``"df"``: the classic PPJoin document-frequency-ascending
      order — one extra groupBy+broadcast-join to rank tokens, but
      prefixes hold the RAREST tokens, collapsing the candidate count
      on skewed vocabularies. Use on real corpora at scale.

    Exactness details the registry demo glossed over: the threshold
    is held as an exact rational p/q (Fraction of ``threshold``), so
    the prefix length ``sz - ceil(p*sz/q) + 1`` is computed in INTEGER
    arithmetic — the float form ``ceil(0.8 * sz)`` overestimates at
    sz % 5 == 0 (0.8*35 = 28.000000000000004 → ceil 29), silently
    shortening the prefix and risking missed pairs. Length filter
    (q*|b| >= p*|a| both ways) and the final verification
    (q*n_common >= p*n_union) are the same exact-integer compares.

    ``max_token_df``: drop tokens with document frequency above the
    cap from the token SETS themselves (the ``minhash_lsh_pairs``
    semantics — changes what "similar" means, documented trade for
    stopword-skew corpora). Unlike a prefix-only df cap this keeps
    the join exact w.r.t. the capped sets.

    Scale shape: candidate generation joins prefix tokens only
    (Σ_tok df_prefix(tok)², further shrunk by the length filter);
    verification joins candidates back to the token table on
    (doc, tok) — never an all-pairs product. Windows are partitioned
    per doc (never global). All shuffles key on token / doc-pair."""
    from fractions import Fraction

    from pyspark.sql import Window

    if token_order not in ("hash", "df"):
        raise ValueError(f"token_order must be 'hash' or 'df', got {token_order!r}")
    frac = Fraction(threshold).limit_denominator(1_000_000)
    p, q = frac.numerator, frac.denominator

    # explode(array_distinct(...)) already emits distinct (doc, tok)
    # rows — no distinct() shuffle needed
    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array_distinct(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    if max_token_df is not None:
        df_ok = (
            toks.groupBy("tok")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_token_df)
            .select("tok")
        )
        toks = toks.join(df_ok, "tok")
    sized = toks.join(toks.groupBy("_id").agg(F.count("*").alias("sz")), "_id")

    if token_order == "df":
        dfs = toks.groupBy("tok").agg(F.count("*").alias("_df"))
        sized = sized.join(F.broadcast(dfs), "tok")
        w = Window.partitionBy("_id").orderBy("_df", "tok")
    else:
        w = Window.partitionBy("_id").orderBy(F.md5("tok"))
    # integer ceil(p*sz/q) = (p*sz + q - 1) div q
    prefix_len = (
        F.col("sz")
        - F.expr(f"({p}L * sz + {q - 1}L) div {q}L")
        + F.lit(1)
    )
    pref = sized.select(
        "_id", "tok", "sz", F.row_number().over(w).alias("_rn")
    ).filter(F.col("_rn") <= prefix_len)

    cand = (
        pref.alias("a")
        .join(pref.alias("b"), "tok")
        .filter(
            (F.col("a._id") < F.col("b._id"))
            & (F.lit(q) * F.col("b.sz") >= F.lit(p) * F.col("a.sz"))
            & (F.lit(q) * F.col("a.sz") >= F.lit(p) * F.col("b.sz"))
        )
        .select(
            F.col("a._id").alias("doc_a"),
            F.col("b._id").alias("doc_b"),
            F.col("a.sz").alias("_na"),
            F.col("b.sz").alias("_nb"),
        )
        .distinct()
    )
    inter = (
        cand.join(toks.alias("ta"), F.col("doc_a") == F.col("ta._id"))
        .join(
            toks.alias("tb"),
            (F.col("doc_b") == F.col("tb._id")) & (F.col("ta.tok") == F.col("tb.tok")),
        )
        .groupBy("doc_a", "doc_b", "_na", "_nb")
        .agg(F.count("*").alias("n_common"))
    )
    union = F.col("_na") + F.col("_nb") - F.col("n_common")
    return inter.filter(F.lit(q) * F.col("n_common") >= F.lit(p) * union).select(
        "doc_a",
        "doc_b",
        "n_common",
        union.alias("n_union"),
        F.round(F.col("n_common") / union, 6).alias("jaccard"),
    )
