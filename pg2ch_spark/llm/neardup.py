"""Group K (near-dup, extended) — SimHash, n-gram Jaccard, embedding
near-dup, and IVF-bucketed ANN (SURVEY §2.3 K).

Completes the dedup/similarity family the brief mandates beyond
MinHash-LSH (`text.py`): every operator here carries an EXACT DuckDB
oracle — including SimHash, which is usually declared "not portably
SQL-expressible"; it is, if the 64-bit token hash is derived from
`md5` hex digits (the one cross-engine-identical hash) instead of an
engine-native hash function.

Feature choice: word 3-gram shingles, not unigram tokens. The fixture
corpus has a ~30-word vocabulary, so unigram token sets are nearly
identical across all documents — unigram SimHash degenerates to
~all-pairs candidates (measured: 166k hamming≤3 pairs at sf0.1).
Shingles discriminate: 1,085 candidates / 117 near-dup pairs at sf0.1.

Scale notes (100 TB of documents / billions of vectors):
- SimHash banding: 4 bands × 16 bits → candidate generation is 4
  shuffle-friendly equi-joins on (band, value), never an O(n²) OR-join
  (the DuckDB oracle uses the OR form — result-identical, but Spark
  would plan a nested-loop join for it, so the Spark side unions
  per-band equi-joins instead). Verification is constant-time per pair
  (xor + bit_count on the 4 signature words), no re-tokenization.
- n-gram Jaccard: candidate pairs come from an equi-join on shared
  shingles (docs sharing none never meet), intersections via count —
  the same shuffle pattern as a word-count, no cross join.
- Embedding near-dup: brute-force O(n²) is intrinsic to an *exact*
  threshold scan; the scale path is the IVF bucketing shown in
  `sim_ann_ivf` (probe-limited search) or random-hyperplane LSH, both
  trading recall for an equi-join plan.
- IVF ANN: coarse quantizer = per-label centroids (64×10 doubles —
  broadcast), assignment is a narrow map-side computation, search
  touches only probed buckets: candidate set shrinks by ~k/probes.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.storagelevel import StorageLevel

from pg2ch_spark import catalog
from pg2ch_spark.caching import eager_persist, fanout_partitions
from pg2ch_spark.llm.similarity import cosine, _cos_sql
from pg2ch_spark.registry import register

# ---------------------------------------------------------------------------
# Shared shingle helpers (word 3-grams, distinct per doc)

_SHINGLE_SQL = """
    ts AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS g
        FROM ts, unnest(range(1, len(a) - 1)) AS t(i)
    )
"""


def _shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, g) — distinct word-3-gram shingles. JVM-side only.

    Distinctness is per document, so it is computed IN-ROW
    (array_distinct before the explode) — a post-explode .distinct()
    would shuffle the whole shingle stream for the same result. The
    repartition spreads the single-split local fixture across cores
    before the per-row hot loop (free via input splits at real scale).
    """
    return (
        docs.repartition(fanout_partitions(docs))
        .select("doc_id", F.split("text", " ").alias("a"))
        .where(F.size("a") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "array_distinct(transform(sequence(0, size(a) - 3),"
                    "                         i -> concat_ws(' ', a[i], a[i+1], a[i+2])))"
                )
            ).alias("g"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash near-dedup (exact oracle)

_N_BANDS = 4
_BAND_BITS = 16
_HAMMING_MAX = 3


@register(
    "text_near_dedup_simhash",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    bits AS (
        SELECT doc_id, i,
               CASE WHEN ((strpos('0123456789abcdef',
                                  substr(substr(md5(g), 1, 16), (i // 4) + 1, 1)) - 1)
                          >> (3 - (i % 4))) & 1 = 1
                    THEN 1 ELSE -1 END AS v
        FROM sh, unnest(range(0, 64)) AS t(i)
    ), sb AS (
        SELECT doc_id, i, CASE WHEN sum(v) > 0 THEN 1 ELSE 0 END AS bit
        FROM bits GROUP BY doc_id, i
    ), bands AS (
        SELECT doc_id, i // {_BAND_BITS} AS band,
               sum(bit << (i % {_BAND_BITS}))::BIGINT AS bval
        FROM sb GROUP BY doc_id, i // {_BAND_BITS}
    ), sig AS (
        SELECT doc_id,
               max(CASE WHEN band = 0 THEN bval END) AS b0,
               max(CASE WHEN band = 1 THEN bval END) AS b1,
               max(CASE WHEN band = 2 THEN bval END) AS b2,
               max(CASE WHEN band = 3 THEN bval END) AS b3
        FROM bands GROUP BY doc_id
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
             + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS hamming
        FROM sig a JOIN sig b
          ON a.doc_id < b.doc_id
         AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
    )
    SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= {_HAMMING_MAX}
    """,
)
def text_near_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 64-bit signature, 4×16-bit band LSH,
    hamming ≤ 3 verified via xor+bit_count on the signature words.

    Per-token 64-bit hash = first 16 hex digits of md5 (cross-engine
    identical); signature bit i = sign of Σ(±1) over the doc's shingles.
    Candidate semantics are band-LSH (pairs must agree on ≥1 full band)
    in BOTH engines, so the oracle is exact.

    Exact-dup collapsed like the jaccard/containment siblings: the
    signature is a pure function of the text, so banding runs over one
    representative per distinct text and member products are expanded
    afterwards — identical texts band-agree everywhere with hamming 0,
    cross-cluster pairs inherit their reps' hamming. Duplicate-dense
    corpora otherwise go quadratic inside every band bucket (the 100×
    replication probe read 13.9× at 100× pre-collapse); post-collapse
    the quadratic part is true output only.
    """
    docs = catalog.load(spark, sf_dir, "documents")
    reps, clusters = _collapse_exact(docs)
    sh = _shingles(reps).withColumn("hx", F.substring(F.md5(F.col("g").cast("binary")), 1, 16))

    # Zero-explode signature build: exploding 64 bit-rows per shingle
    # multiplies 1.1M shingles into 72M rows (measured 3.7s at sf0.1).
    # Instead: 16 hex-digit columns per shingle row, then ONE groupBy
    # with 64 conditional ±1 sums — partial aggregation collapses each
    # map partition to a single 64-sum row before the shuffle (~0.9s).
    digits = sh.select(
        "doc_id",
        *[
            F.expr(f"instr('0123456789abcdef', substr(hx, {p + 1}, 1)) - 1").alias(f"d{p}")
            for p in range(16)
        ],
    )
    bit_sums = digits.groupBy("doc_id").agg(
        *[
            F.sum(
                F.expr(
                    f"CASE WHEN shiftright(d{i // 4}, {3 - i % 4}) & 1 = 1 THEN 1 ELSE -1 END"
                )
            ).alias(f"s{i}")
            for i in range(64)
        ]
    )
    sig = bit_sums.select(
        "doc_id",
        *[
            F.expr(
                " + ".join(
                    f"shiftleft(CASE WHEN s{_BAND_BITS * b + j} > 0 THEN 1 ELSE 0 END, {j})"
                    for j in range(_BAND_BITS)
                )
            )
            .cast("long")
            .alias(f"b{b}")
            for b in range(_N_BANDS)
        ],
    )
    # sig feeds 10 plan branches (4 band-joins × 2 sides + 2 hamming
    # joins); without a barrier each branch recomputes the whole
    # shingle→aggregate pipeline. The signature table is one compact
    # row per doc, so materialize it once — via the columnar cache
    # (spills to disk at doc scale), the classic "persist the
    # signatures" step of every LSH pipeline.
    sig = eager_persist(sig)

    # Candidate generation: ONE equi-self-join on exploded (band, value)
    # rows — band-agreement semantics identical to the oracle's OR-join
    # but shuffle-friendly (an OR-join would plan as a nested loop — see
    # module docstring), and a single shuffle where the first
    # implementation unioned four per-band joins.
    band_cols = [f"b{b}" for b in range(_N_BANDS)]
    band_struct = ", ".join(f"struct({b} AS band, b{b} AS bval)" for b in range(_N_BANDS))
    bands_long = sig.select(
        "doc_id", F.explode(F.expr(f"array({band_struct})")).alias("bb")
    ).select("doc_id", "bb.band", "bb.bval")
    pairs = (
        bands_long.select(F.col("doc_id").alias("doc_a"), "band", "bval")
        .join(
            bands_long.select(F.col("doc_id").alias("doc_b"), "band", "bval"),
            ["band", "bval"],
        )
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )

    a_sig = sig.select(F.col("doc_id").alias("doc_a"), *[F.col(c).alias(f"a_{c}") for c in band_cols])
    b_sig = sig.select(F.col("doc_id").alias("doc_b"), *[F.col(c).alias(f"b_{c}") for c in band_cols])
    hamming = (
        sum(F.bit_count(F.expr(f"a_b{b} ^ b_b{b}")) for b in range(_N_BANDS))
        .cast("int")
        .alias("hamming")
    )
    rep_pairs = (
        pairs.join(a_sig, "doc_a")
        .join(b_sig, "doc_b")
        .select("doc_a", "doc_b", hamming)
        .where(F.col("hamming") <= _HAMMING_MAX)
    )

    # Expansion back to the declared per-doc contract. Within-cluster
    # pairs exist only when the cluster shingles at all (<3-word texts
    # have no signature and never pair), which the semi join on sig
    # enforces.
    return _expand_member_products(
        rep_pairs,
        clusters,
        "doc_a",
        "doc_b",
        {"hamming": F.lit(0).cast("int")},
        eligible=clusters.join(
            sig.select(F.col("doc_id").alias("rep")), "rep", "left_semi"
        ),
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dedup (exact oracle)

_JACCARD_MIN = 0.5


@register(
    "text_near_dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
        FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(ni AS DOUBLE) / (x.n + y.n - ni), 4) AS jaccard
    FROM inter
    JOIN sz x ON x.doc_id = doc_a
    JOIN sz y ON y.doc_id = doc_b
    WHERE CAST(ni AS DOUBLE) / (x.n + y.n - ni) >= {_JACCARD_MIN}
    """,
)
def text_near_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (similarity ≥ 0.5).

    Candidates come from the recall-lossless AllPairs prefix filter
    (see `_candidates_jaccard`: docs ordered rarest-shingle-first must
    share a PREFIX shingle to reach 0.5 — provably, not heuristically),
    then each candidate's Jaccard is verified exactly (integer
    intersection/union) — the precise sibling of MinHash-LSH with the
    same result set as the naive all-shared-shingle join, minus its
    quadratic-per-hot-shingle candidate stream.

    Regime limit (measured, BASELINE.md round 6): when the shingle
    space itself is tiny relative to the corpus (the salted probe:
    500k docs over 120k distinct grams), even prefixes are hot and the
    candidate graph is intrinsically dense — 3.9B candidate rows for
    25M true pairs. No exact pair join beats Ω(candidates); that
    regime belongs to the MinHash default of `near_dup_text_pairs`.
    """
    return ngram_jaccard_pairs(catalog.load(spark, sf_dir, "documents"))


def _collapse_on(
    df: DataFrame,
    id_col: str,
    key: Column,
    payload_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Generalized exact-dup collapse for pair generators: one cluster
    row per DISTINCT ``key`` value with rep = min(id) — the
    rep-is-min-of-members invariant `_expand_member_products` relies
    on lives HERE, not re-established per call site — sorted member
    ids, and the payload columns taken from any member (identical
    within a cluster by construction of the key).

    Why collapse: a candidate/bucket self-join over raw rows goes
    quadratic in duplicate-cluster size k (the 100×-duplication probes
    filled the disk / GC-thrashed); over representatives, a cluster
    contributes ONE row per side and member products re-expand exactly
    afterwards, so cost becomes candidates-over-distinct-payloads plus
    TRUE output size.

    Persisted EAGERLY (``caching.eager_persist`` — see that module for
    why eager, why columnar persist, and the cache-lifetime policy):
    every consumer fans the cluster table into 3-4 plan branches (reps
    + within + both cross sides) and Spark has no cross-branch subtree
    reuse — without the shared cache the groupBy recomputes per branch
    (measured ~1s/branch at sf0.1). A lazy persist is NOT equivalent:
    consumers would be planned from the pre-materialization estimate,
    which reads tiny for a collapse groupBy and once broadcast-joined
    a shingle-scale table to death (the salted 100× probe)."""
    clusters = (
        df.groupBy(key.alias("_k"))
        .agg(
            F.min(id_col).alias("rep"),
            F.sort_array(F.collect_list(id_col)).alias("members"),
            *[F.first(c).alias(c) for c in payload_cols],
        )
        .drop("_k")
    )
    # Columnar persist, not an RDD-block checkpoint: the members arrays
    # total one id per INPUT row (row-scale even though the table has
    # one row per distinct payload) and must spill at scale, not OOM.
    return eager_persist(clusters)


def _collapse_exact(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Text-keyed collapse (md5 of the text bytes, so the shuffle
    carries 16-byte keys and one text per distinct value survives the
    partial agg): (reps, clusters) for the shingle/band generators."""
    clusters = _collapse_on(
        docs.select("doc_id", "text"),
        "doc_id",
        F.md5(F.col("text").cast("binary")),
        ("text",),
    )
    reps = clusters.select(F.col("rep").alias("doc_id"), "text")
    return reps, clusters.select("rep", "members")


def _expand_member_products(
    rep_pairs: DataFrame,
    clusters: DataFrame,
    a: str,
    b: str,
    payload: dict,
    eligible: DataFrame,
) -> DataFrame:
    """Expand rep-level scored pairs back to the full per-doc contract
    after an exact-dup collapse. ``rep_pairs`` carries (a, b, *payload
    names) over representatives; ``clusters`` is the (rep, members)
    table; ``payload`` maps each score column to the literal it takes
    on identical-payload pairs (jaccard/containment 1.0, hamming 0,
    cos 1.0); ``eligible`` is the subset of clusters whose members
    pair with EACH OTHER (caller-supplied: reps that shingle at all,
    vectors with positive norm, ...). Scores are pure functions of the
    two payloads, so member products inherit their reps' scores
    exactly and within-cluster pairs take the identity literals."""
    names = list(payload)
    within = (
        eligible.where(F.size("members") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(members, (x, i) -> "
                    "transform(slice(members, i + 2, size(members)), "
                    f"y -> named_struct('{a}', x, '{b}', y))))"
                )
            ).alias("p")
        )
        .select(
            F.col(f"p.{a}").alias(a),
            F.col(f"p.{b}").alias(b),
            *[lit.alias(k) for k, lit in payload.items()],
        )
    )
    ca = clusters.select(F.col("rep").alias(a), F.col("members").alias("_ma"))
    cb = clusters.select(F.col("rep").alias(b), F.col("members").alias("_mb"))
    cross = (
        rep_pairs.join(ca, a)
        .join(cb, b)
        .select(*names, F.explode("_ma").alias("_x"), "_mb")
        .select(*names, "_x", F.explode("_mb").alias("_y"))
        .select(F.least("_x", "_y").alias(a), F.greatest("_x", "_y").alias(b), *names)
    )
    return cross.unionByName(within)


def _ordered_grams(sh: DataFrame) -> DataFrame:
    """(doc_id, grams, n): each doc's distinct shingles as ONE array
    sorted rarest-first under the global total order (document
    frequency asc, gram asc) the prefix filter requires. The df join
    shuffles grams once; the collect_list shuffles each gram once more
    — together no more data movement than the old full shingle
    self-join moved per side."""
    dfreq = sh.groupBy("g").agg(F.count(F.lit(1)).alias("_df"))
    return (
        sh.join(dfreq, "g")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("_df", "g"))).alias("_sg"))
        .select(
            "doc_id",
            F.col("_sg.g").alias("grams"),
            F.size("_sg").alias("n"),
        )
    )


def _prefix_len(threshold: float):
    """AllPairs prefix length for own size n and threshold t: a pair at
    similarity >= t must overlap in >= ceil(t*n) shingles, so the
    ceil(t*n)-1 rarest-last shingles cannot hold ALL common ones —
    at least one common shingle lies in the first n - ceil(t*n) + 1."""
    return (
        F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + F.lit(1)
    ).cast("int")


def _candidates_jaccard(docs_g: DataFrame, t: float) -> DataFrame:
    """Two-sided prefix-filtered candidates for Jaccard >= t — EXACT
    (zero recall loss), the classic AllPairs/PPJoin prefix lemma: order
    all shingles by a global total order; if J(A,B) >= t, the prefixes
    of length |X| - ceil(t|X|) + 1 intersect. (Proof: wlog A's prefix
    ends earlier in the order; every common shingle then falls after
    it — at most ceil(t|A|)-1 of A's shingles — but J >= t forces
    >= ceil(t|A|) common shingles. Contradiction.) Size window rides
    in the join: J >= t also forces t <= |A|/|B| <= 1/t, pruning
    cross-size candidates before the distinct.

    r8: PPJoin POSITIONAL filter added on top (still exact). A shared
    gram at 0-based prefix positions (pa, pb) bounds the overlap:
    common grams all sort at-or-after the FIRST common gram, so for
    that gram o <= min(n_a - pa, n_b - pb); J >= t needs
    o >= t/(1+t)·(n_a+n_b). Pruning join rows whose bound falls short
    cannot drop a true pair — its first-common-gram row always meets
    the bound (o itself is <= that row's bound and >= the threshold) —
    and it cuts candidate volume BEFORE the distinct: measured at
    sf0.1 (fixture corpus, ~30-word vocabulary, t=0.5) 309,409
    candidates -> 124,804, identical output (oracle-exact on all three
    consuming keys re-proven at sf0.01).

    r9 paired A/B (VERDICT r8 item 1 — the r8 driver bench showed the
    three consuming keys 2.3-3.1x slower and asked whether the filter
    was the cause; it is not, that was the host): interleaved
    same-session runs at sf0.1 put the filter at +5% on minimums and
    -3% on medians (within the window's own noise); at the 10x-unique
    probe the filter wins 2.7x on the candidate stage (7.6 s vs
    20.6 s, 12.0M vs 30.8M candidates); at 100x-unique the filtered
    stage COMPLETES (537 s, 1.197B candidates) where the unfiltered
    arm fills >80 GB of shuffle spill and dies. Kept unconditionally —
    no corpus-size gate needed at a <=5% sf0.1 cost."""
    plen = _prefix_len(t)
    pre = docs_g.select(
        "doc_id",
        "n",
        F.posexplode(F.slice("grams", F.lit(1), plen)).alias("p", "g"),
    )
    a = pre.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"),
        F.col("p").alias("_pa"), "g",
    )
    b = pre.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"),
        F.col("p").alias("_pb"), "g",
    )
    cond = (
        (F.col("doc_a") < F.col("doc_b"))
        & (F.col("n_b") >= F.ceil(F.lit(t) * F.col("n_a")))
        & (F.col("n_a") >= F.ceil(F.lit(t) * F.col("n_b")))
        # positional overlap upper bound vs the Jaccard overlap
        # requirement (real-valued comparison: an integer bound
        # >= the real requirement iff >= its ceiling)
        & (
            F.least(F.col("n_a") - F.col("_pa"), F.col("n_b") - F.col("_pb"))
            >= F.lit(t / (1.0 + t)) * (F.col("n_a") + F.col("n_b"))
        )
    )
    return (
        a.join(b, "g")
        .where(cond)
        # sizes ride along (functionally dependent on the ids): the
        # verify stage then never joins a doc-scale size table
        .select("doc_a", "doc_b", "n_a", "n_b")
        .distinct()
    )


def _candidates_containment(docs_g: DataFrame, c: float) -> DataFrame:
    """Small-side-prefix candidates for containment >= c — EXACT. The
    min-size semantics break the two-sided lemma (the larger doc's
    own-size prefix can end before every common shingle), so the
    filter indexes every doc's prefix and probes it with the FULL
    shingle set of its size-larger partners: C >= c needs
    o >= ceil(c*min) common shingles, and the smaller side's
    ceil(c*n)-1 rarest-last shingles cannot hold them all, so one
    common shingle sits in the smaller side's prefix — where the
    larger side's full set must meet it. Rarest-first ordering keeps
    hot shingles out of prefixes, so inverted lists of stopword-grams
    never pair cold docs.

    r9: no r8 POSITIONAL filter here (it stays in
    `_candidates_jaccard`, where it is the difference between
    completing and filling the disk at 100x — see that docstring). For
    containment it is structurally weak: at c=0.9 the prefix is the
    ~10% rarest-first head, so the first-common-gram positions almost
    always satisfy min(n-p, _fn-_fp) >= c*n and the bound prunes
    almost nothing — measured (paired interleaved A/B, r9): candidate
    cut 2.5% at sf0.1 (67,160 vs 68,877) and 2.6% at the 100x-unique
    probe (5.48M vs 5.62M at 10xu), while the per-join-row predicate
    evaluation costs 5% at sf0.1 and 2.9x wall at 10xu (15.4 s vs
    5.3 s, stable across interleaved rounds). Same result set either
    way — the filter is recall-lossless and the verify stage re-checks
    every candidate exactly."""
    small = docs_g.select(
        "doc_id",
        "n",
        F.explode(F.slice("grams", F.lit(1), _prefix_len(c))).alias("g"),
    )
    full = docs_g.select(
        F.col("doc_id").alias("_fid"),
        F.col("n").alias("_fn"),
        F.explode("grams").alias("g"),
    )
    swap = F.col("_fid") < F.col("doc_id")
    return (
        small.join(full, "g")
        .where(
            (F.col("_fn") > F.col("n"))
            | ((F.col("_fn") == F.col("n")) & (F.col("_fid") > F.col("doc_id")))
        )
        .select(
            F.least("doc_id", "_fid").alias("doc_a"),
            F.greatest("doc_id", "_fid").alias("doc_b"),
            F.when(swap, F.col("_fn")).otherwise(F.col("n")).alias("n_a"),
            F.when(swap, F.col("n")).otherwise(F.col("_fn")).alias("n_b"),
        )
        .distinct()
    )


def _rep_pair_scores(
    reps: DataFrame,
    keep,
    prefilter: tuple[str, float],
) -> tuple[DataFrame, DataFrame]:
    """(rep_pairs, sz) — scored pairs over an already exact-dup-
    collapsed (doc_id, text) frame, plus the per-doc shingle size table
    (the expansion step needs it to know which reps shingle at all).
    This is the pre-expansion core of ``_shingle_pair_scores``;
    ``dedup_cluster_components`` consumes it directly so connected
    components never materialize the k(k-1)/2 within-cluster member
    pairs of the expanded contract (k-1 identity edges suffice).

    Candidates come from an EXACT prefix filter instead of the full
    shared-shingle self-join. ``prefilter`` is REQUIRED and must name a
    threshold AT MOST as strict as ``keep`` enforces — ("jaccard", t)
    or ("containment", c); a prefilter stricter than keep (or of the
    wrong kind: a jaccard filter under a containment keep) silently
    drops true pairs, which is why there is no default. Why replace
    the self-join:
    the old plan paired every two docs sharing ANY shingle, so a
    shingle in f docs cost f² grouped rows — quadratic per hot shingle
    on real corpora even after exact-dup collapse. Prefix filtering is
    recall-lossless (lemmas at the candidate builders), so results are
    bit-identical; each candidate's intersection is then counted
    exactly through a candidate-restricted shared-gram join (thin rows
    end to end — see the verify note below) — candidate-bounded work,
    not shared-shingle-count work."""
    kind, threshold = prefilter
    # sh feeds two derivations (gram df + the per-doc arrays); persist
    # through the docs_g build, then release — docs_g replaces it.
    sh = _shingles(reps).persist(StorageLevel.MEMORY_AND_DISK)
    # docs_g feeds every later branch (prefix explode per side + both
    # verify sides); columnar persist, spillable at row scale.
    docs_g = eager_persist(_ordered_grams(sh))
    sh.unpersist()
    sz = docs_g.select("doc_id", "n")
    if kind == "jaccard":
        cand = _candidates_jaccard(docs_g, threshold)
    elif kind == "containment":
        cand = _candidates_containment(docs_g, threshold)
    else:  # pragma: no cover - caller contract
        raise ValueError(f"unknown prefilter kind: {kind}")
    # Exact verify, one row per candidate: join each candidate to both
    # docs' gram-HASH arrays (xxhash64 per gram — 8 bytes/element, so
    # a 50-gram doc's verify payload is 400 B, not a string array; the
    # all-string form measured 2× these rows' weight and a re-join
    # through the raw shingle stream measured n̄× more shuffled rows
    # and 2× the stage time at sf0.1). ni = |hash-set intersection| —
    # grams are distinct per doc, and a cross-doc collision changing
    # ni requires two distinct grams in the SAME candidate pair to
    # share an xxhash64, P ≈ n²/2⁶⁴ ≈ 1e-17 per pair. The degenerate
    # candidate-dense regime (see the regime note) dies on candidate
    # VOLUME under any verify shape; this one is the cheapest per
    # candidate while keeping shuffle rows bounded (hundreds of bytes).
    hashed = F.expr("transform(grams, x -> xxhash64(x))")
    gha = docs_g.select(F.col("doc_id").alias("doc_a"), hashed.alias("_ha"))
    ghb = docs_g.select(F.col("doc_id").alias("doc_b"), hashed.alias("_hb"))
    scored = (
        cand.join(gha, "doc_a")
        .join(ghb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            F.size(F.array_intersect("_ha", "_hb")).alias("ni"),
        )
        .where(F.col("ni") > 0)
    )
    cont = F.col("ni").cast("double") / F.least(F.col("n_a"), F.col("n_b"))
    jac = F.col("ni").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("ni"))
    rep_pairs = (
        scored.where(keep(cont, jac))
        .select(
            "doc_a",
            "doc_b",
            F.round(cont, 4).alias("containment"),
            F.round(jac, 4).alias("jaccard"),
        )
    )
    return rep_pairs, sz


def _shingle_pair_scores(
    docs: DataFrame,
    keep,
    prefilter: tuple[str, float],
) -> DataFrame:
    """(doc_a, doc_b, containment, jaccard) for shared-shingle pairs
    passing ``keep`` (a (containment, jaccard) -> Column predicate),
    exact-dup-collapsed: scores are computed once per distinct text
    pair, FILTERED at rep level (so the expansion touches only true
    output), then expanded to member products. Scores are pure
    functions of the two texts, so expansion preserves them exactly;
    within-cluster pairs (identical texts with ≥1 shingle) score
    1.0/1.0 by definition and pass the same predicate. Docs with no
    shingles (<3 words) never pair — the expansion keeps that by
    requiring the rep in the size table."""
    reps, clusters = _collapse_exact(docs)
    rep_pairs, sz = _rep_pair_scores(reps, keep, prefilter)
    # within-cluster pairs: identical texts, but only if they shingle
    # (the sz join) AND identity scores pass the caller's predicate
    # (constant-folded by Catalyst).
    return _expand_member_products(
        rep_pairs,
        clusters,
        "doc_a",
        "doc_b",
        {"containment": F.lit(1.0), "jaccard": F.lit(1.0)},
        eligible=clusters.join(
            sz.select(F.col("doc_id").alias("rep")), "rep"
        ).where(keep(F.lit(1.0), F.lit(1.0))),
    )


def ngram_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """The pair generator itself, over any (doc_id, text) frame — also
    reused by dedup_cluster_components (which pre-collapses; the
    collapse here is then a no-op over singleton clusters)."""
    return _shingle_pair_scores(
        docs,
        lambda cont, jac: jac >= _JACCARD_MIN,
        prefilter=("jaccard", _JACCARD_MIN),
    ).select("doc_a", "doc_b", "jaccard")


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (exact oracle)

_COS_MIN = 0.45  # measured: 14 pairs at sf0.01, 144 at sf0.1

# Chunk size for the shared cosine tile kernel: the materialized slab
# is CHUNK × |B| doubles, never |A| × |B| (the unchunked kernel tried
# to allocate a (250k, 250k) = 466 GiB matrix at the 1000× probe).
_TILE_CHUNK = 1024


# eager_persist moved to pg2ch_spark.caching (imported at the top; see
# that module for the eager-vs-lazy and persist-vs-localCheckpoint
# rationale and the cache-lifetime policy).


def chunked_cos_pairs(ids_a, A, ids_b, B, pre, upper_only):
    """All (a, b) pairs with cosine ≥ ``pre``, computed in CHUNK-row
    slabs with a dimension-ordered fold.

    Bit-exactness vs the JVM expression and the DuckDB oracle: the
    fold accumulates dimension k as a separate vectorized `+=` pass,
    so every pair's dot product is summed in the SAME left-to-right
    dimension order as ``list_sum(list_transform…)`` — numpy
    elementwise ops are IEEE-exact and never reassociate across passes
    (only axis *reductions* would). NaN cosines (zero-norm vectors)
    compare False against ``pre`` and drop, matching the oracle's NULL
    division; ``pre`` must sit a rounding margin below the declared
    threshold because callers compare the JVM-ROUNDED value.
    """
    import numpy as np
    import pandas as pd

    def _norms(M):
        acc = np.zeros(len(M))
        for k in range(M.shape[1]):
            acc += M[:, k] * M[:, k]
        return np.sqrt(acc)

    norm_b = _norms(B)
    out_a, out_b, out_c = [], [], []
    for s in range(0, len(A), _TILE_CHUNK):
        Ac, ia = A[s : s + _TILE_CHUNK], ids_a[s : s + _TILE_CHUNK]
        dots = np.zeros((len(Ac), len(B)))
        for k in range(Ac.shape[1]):
            dots += np.outer(Ac[:, k], B[:, k])
        # in-place: one CHUNK x |B| slab fewer at peak (same single
        # IEEE division, bit-identical)
        dots /= np.outer(_norms(Ac), norm_b)
        cos = dots
        mask = cos >= pre  # NaN -> False, like the oracle's NULL
        if upper_only:
            mask &= ia[:, None] < ids_b[None, :]
        ai, bj = np.nonzero(mask)
        out_a.append(ia[ai])
        out_b.append(ids_b[bj])
        out_c.append(cos[ai, bj])
    va = np.concatenate(out_a) if out_a else np.empty(0, dtype="int64")
    vb = np.concatenate(out_b) if out_b else np.empty(0, dtype="int64")
    vc = np.concatenate(out_c) if out_c else np.empty(0, dtype="float64")
    # pair orientation: the declared contracts require vec_a < vec_b
    lo, hi = np.minimum(va, vb), np.maximum(va, vb)
    return pd.DataFrame({"vec_a": lo, "vec_b": hi, "c_raw": vc})


@register(
    "sim_near_dup_embedding",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({_cos_sql('a.embedding', 'b.embedding')}, 4) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round({_cos_sql('a.embedding', 'b.embedding')}, 4) >= {_COS_MIN}
    """,
)
def sim_near_dup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs: rounded cosine ≥ 0.45, a < b.

    Block nested-loop via shuffle, NO driver materialization: each
    vector is assigned one of NB blocks and replicated to every block
    *pair* it participates in (an explode, NB rows per input row), then
    ``applyInPandas`` computes each block pair's similarity tile with
    vectorized numpy — in CHUNK-row slabs, with a rounding-safe
    in-kernel pre-filter, so per-task memory is O(2·N/NB·d +
    CHUNK·N/NB) and only near-threshold pairs ever cross Arrow (the
    unchunked kernel allocated the whole (N/NB)² tile — 466 GiB at the
    1000× probe — and shipped every dense pair to the JVM to threshold
    there). At billions of vectors raise NB (replication grows
    linearly, slab memory shrinks linearly); the earliest
    implementation broadcast the whole table from the driver, which
    caps out at driver memory.

    Exact threshold scan is intrinsically all-pairs (O(N²/NB) tiles);
    at real scale run `sim_ann_ivf`-style bucketing or random-
    hyperplane LSH first and apply this kernel only within buckets.

    Collapse-first like every other near-dup key: the tiles run over
    one representative per DISTINCT vector (cosine is a pure function
    of the payload pair) and member products expand exactly afterwards
    — identical-vector pairs are cos 1.0 by identity unless the vector
    is zero-norm (NULL in the oracle, so it pairs with nothing). On a
    duplicate-dense corpus the quadratic kernel cost drops to
    distinct-scale; on a mostly-unique corpus the collapse is a
    16-byte-key shuffle no-op.
    """
    import numpy as np
    import pandas as pd

    nb = int(os.environ.get("SPARK_GRAFT_SIM_BLOCKS", "8"))
    eclusters = _collapse_on(
        catalog.load(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        "vec_id",
        F.md5(F.to_json("embedding").cast("binary")),
        ("embedding",),
    )
    e = eclusters.select(F.col("rep").alias("vec_id"), "embedding")

    # Replicate each row to all NB unordered block pairs that contain
    # its block: row with block b joins groups (min(b,o), max(b,o)) for
    # every other block o — each group sees exactly the rows of its two
    # blocks, each unordered vector pair meets in exactly one group.
    tagged = e.select(
        "vec_id",
        "embedding",
        (F.col("vec_id") % nb).cast("int").alias("blk"),
    ).select(
        "vec_id",
        "embedding",
        "blk",
        F.explode(
            F.expr(
                f"transform(sequence(0, {nb - 1}),"
                "           o -> struct(least(blk, o) AS pi, greatest(blk, o) AS pj))"
            )
        ).alias("pk"),
    ).select("vec_id", "embedding", "blk", F.col("pk.pi").alias("pi"), F.col("pk.pj").alias("pj"))

    # In-kernel pre-filter margin: the declared threshold compares the
    # JVM-ROUNDED cosine (round(c, 4) >= 0.45), so the kernel may only
    # drop pairs that can never round up across it — anything below
    # _COS_MIN − 1e-4 rounds to at most _COS_MIN − 1e-4 < _COS_MIN.
    pre = _COS_MIN - 1e-4

    _empty = pd.DataFrame({"vec_a": pd.Series(dtype="int64"),
                           "vec_b": pd.Series(dtype="int64"),
                           "c_raw": pd.Series(dtype="float64")})

    def block_pair(key, pdf):
        pi, pj = int(key[0]), int(key[1])
        a_side = pdf[pdf["blk"] == pi]
        ids_a = a_side["vec_id"].to_numpy()
        if pi == pj:
            if len(ids_a) < 2:
                return _empty
            A = np.stack(a_side["embedding"].to_numpy()).astype(np.float64)
            return chunked_cos_pairs(ids_a, A, ids_a, A, pre, upper_only=True)
        b_side = pdf[pdf["blk"] == pj]
        ids_b = b_side["vec_id"].to_numpy()
        if not len(ids_a) or not len(ids_b):
            return _empty
        A = np.stack(a_side["embedding"].to_numpy()).astype(np.float64)
        B = np.stack(b_side["embedding"].to_numpy()).astype(np.float64)
        return chunked_cos_pairs(ids_a, A, ids_b, B, pre, upper_only=False)

    out = tagged.groupBy("pi", "pj").applyInPandas(
        block_pair, "vec_a long, vec_b long, c_raw double"
    )
    # round + threshold JVM-side so the rounding semantics are Spark's
    # (same as every other declared query), not numpy's. The isnan
    # guard matches the oracle on zero-norm vectors: 0/0 is NULL in
    # DuckDB (dropped by >=) but NaN here, and Spark orders NaN above
    # every number, so a bare >= would KEEP the pair.
    rep_pairs = out.select(
        "vec_a", "vec_b", F.round("c_raw", 4).alias("cos_sim")
    ).where(~F.isnan("cos_sim") & (F.col("cos_sim") >= _COS_MIN))
    # Identity pairs require a norm in (0, inf): zero-norm vectors pair
    # with nothing (oracle NULL), and overflow-norm vectors (norm² =
    # inf) pair with nothing EITHER — their kernel cosine is inf/inf =
    # NaN, which this engine drops everywhere. (DuckDB's own quirk of
    # ranking NaN above every number would *emit* those pairs; matching
    # that would surface garbage matches for corrupt payloads, so the
    # boundary is: non-finite norms never pair.)
    norm2 = F.expr("aggregate(embedding, 0D, (a, x) -> a + CAST(x AS DOUBLE) * x)")
    return _expand_member_products(
        rep_pairs,
        eclusters.select("rep", "members"),
        "vec_a",
        "vec_b",
        {"cos_sim": F.lit(1.0)},
        eligible=eclusters.where(
            (norm2 > 0) & (norm2 < F.lit(float("inf")))
        ),
    )


# ---------------------------------------------------------------------------
# Library entry points — the guardrail posture operators/intervals.py
# established for the pair-materializing interval joins, applied to the
# near-dup family: the DEFAULT a user reaches for is the banded/
# prefix-filtered plan that survives 100 TB; the exact all-pairs scan
# is an explicit opt-in acknowledging an output-sized (embedding case:
# O(N²/NB)-tile) job. The registered keys keep their declared
# contracts; these functions are what library users should call.


def near_dup_embedding_pairs(spark: SparkSession, sf_dir: str, *, exact: bool = False) -> DataFrame:
    """Embedding near-dup pairs with a scale-safe DEFAULT.

    Default (``exact=False``): random-hyperplane LSH — 16 sign bits in
    4 bands, candidates must agree on one full band, exact cosine
    verified in-bucket (`sim_lsh_hyperplane`'s plan). Work is a band-
    key shuffle + per-bucket tiles: the 100 TB path. Recall < 1 by
    construction: a pair at angle θ shares a band with probability
    1 − (1 − (1 − θ/π)⁴)⁴ (~0.96 at cos 0.9, falling fast below —
    tune band count/width for the target regime the way
    `text_fuzzy_blocked_join` documents its prefix-block recall).

    ``exact=True`` (opt-in, quadratic): the chunked all-pairs tile
    scan (`sim_near_dup_embedding`'s plan) — the VERIFY KERNEL. Its
    FLOP count is O(N²·d/NB-tiles) no matter how it is blocked; reach
    for it only on bucket-sized inputs (it is what the default runs
    inside each bucket) or when the contract truly demands zero
    recall loss over the whole corpus."""
    if exact:
        return sim_near_dup_embedding(spark, sf_dir)
    from pg2ch_spark.operators.extended import sim_lsh_hyperplane

    return sim_lsh_hyperplane(spark, sf_dir)


def near_dup_text_pairs(spark: SparkSession, sf_dir: str, *, exact: bool = False) -> DataFrame:
    """Text near-dup pairs with a scale-safe DEFAULT.

    Default (``exact=False``): MinHash-LSH banded candidates with
    exact-Jaccard verification (`text_near_dedup_minhash`'s plan) —
    2×8-band equi-joins, the 100 TB path; recall bound 1 − (1 − s⁸)²
    at Jaccard s. ``exact=True``: the prefix-filtered exact scan
    (`text_near_dedup_ngram_jaccard`'s plan) — recall-lossless and
    sub-quadratic per hot shingle since the AllPairs rewrite, but its
    OUTPUT is every qualifying pair, which is itself quadratic in
    near-dup cluster size; the default's banding bounds the same
    output only by what its buckets surface."""
    if exact:
        return text_near_dedup_ngram_jaccard(spark, sf_dir)
    from pg2ch_spark.llm.text import text_near_dedup_minhash

    return text_near_dedup_minhash(spark, sf_dir)


# ---------------------------------------------------------------------------
# IVF-bucketed approximate nearest neighbor (exact oracle — both engines
# implement the same probe-limited search, so results match exactly)

_N_QUERIES = 10
_N_PROBES = 2
_TOP_K = 3

_CENTROID_SQL = """
    pos AS (SELECT unnest(range(1, 65)) AS pos),
    ex AS (
        SELECT e.vec_id, p.pos, CAST(e.embedding[p.pos] AS DOUBLE) AS val, e.label
        FROM embeddings e, pos p
    ),
    cent AS (
        SELECT label AS cl, pos, avg(val) AS cval FROM ex GROUP BY label, pos
    ),
    d AS (
        SELECT ex.vec_id, c.cl,
               round(sum((ex.val - c.cval) * (ex.val - c.cval)), 6) AS dist2
        FROM ex JOIN cent c ON ex.pos = c.pos
        GROUP BY ex.vec_id, c.cl
    )
"""


@register(
    "sim_ann_ivf",
    oracle=f"""
    WITH {_CENTROID_SQL},
    assign AS (
        SELECT vec_id, cl AS bucket FROM d
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cl) = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, cl AS bucket FROM d
        WHERE vec_id < {_N_QUERIES}
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cl) <= {_N_PROBES}
    ),
    cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id
        FROM probes p JOIN assign a USING (bucket)
        WHERE a.vec_id != p.query_id
    ),
    scored AS (
        SELECT c.query_id, c.neighbor_id,
               round({_cos_sql('q.embedding', 'n.embedding')}, 4) AS cos_sim
        FROM cand c
        JOIN embeddings q ON q.vec_id = c.query_id
        JOIN embeddings n ON n.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim FROM scored
    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) <= {_TOP_K}
    """,
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: coarse-quantize on per-label centroids,
    probe the 2 nearest buckets per query, exact cosine within buckets.

    The scale path for `sim_knn_join`: assignment is a broadcast join
    against 10 centroids (64 doubles each), and the search space per
    query drops from N to ~N·probes/k. Both engines implement the same
    probe-limited semantics, so the check is exact, not rows-only.
    """
    e = catalog.load(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("p0", "val_f")
    ).select(
        "vec_id",
        "label",
        (F.col("p0") + 1).alias("pos"),
        F.col("val_f").cast("double").alias("val"),
    )
    # Centroids as per-label ARRAYS (64 doubles), so assignment below is
    # an in-row zip_with fold over N×k rows — the first implementation
    # equi-joined the position explode against per-position centroid
    # rows (N·d·k joined rows, then a (vec, centroid) re-aggregation:
    # 1.28M rows at sf0.1 vs 20k now).
    cent = ex.groupBy(F.col("label").alias("cl"), "pos").agg(F.avg("val").alias("cval"))
    cent_arr = (
        cent.groupBy("cl")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias("pc"))
        .select("cl", F.expr("transform(pc, x -> x.cval)").alias("cvals"))
    )
    d = e.crossJoin(F.broadcast(cent_arr)).select(
        "vec_id",
        "cl",
        F.round(
            F.expr(
                "aggregate(zip_with(embedding, cvals,"
                "                   (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
                "          CAST(0 AS DOUBLE), (a, b) -> a + b)"
            ),
            6,
        ).alias("dist2"),
    )
    w = Window.partitionBy("vec_id").orderBy("dist2", "cl")
    # ranked feeds both the assignment and the probe branches — without
    # a barrier each recomputes the centroid aggregation from the scan.
    # Columnar persist, not an RDD-block checkpoint: this table is
    # |vectors| × |centroids| rows — the largest intermediate in the
    # repo — and must spill to disk at scale, not OOM the heap.
    ranked = eager_persist(d.withColumn("_rn", F.row_number().over(w)))
    assign = ranked.where(F.col("_rn") == 1).select("vec_id", F.col("cl").alias("bucket"))
    probes = (
        ranked.where((F.col("vec_id") < _N_QUERIES) & (F.col("_rn") <= _N_PROBES))
        .select(F.col("vec_id").alias("query_id"), F.col("cl").alias("bucket"))
    )
    cand = (
        probes.join(assign, "bucket")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    q = e.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    n = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne"))
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(n, "neighbor_id")
        .select("query_id", "neighbor_id", F.round(cosine("qe", "ne"), 4).alias("cos_sim"))
    )
    wk = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(wk))
        .where(F.col("_rn") <= _TOP_K)
        .select("query_id", "neighbor_id", "cos_sim")
    )


@register(
    "sim_ivf_recall",
    oracle=f"""
    WITH {_CENTROID_SQL},
    assign AS (
        SELECT vec_id, cl AS bucket FROM d
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cl) = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, cl AS bucket FROM d
        WHERE vec_id < {_N_QUERIES}
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cl) <= {_N_PROBES}
    ),
    cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id
        FROM probes p JOIN assign a USING (bucket)
        WHERE a.vec_id != p.query_id
    ),
    scored AS (
        SELECT c.query_id, c.neighbor_id,
               round({_cos_sql('q.embedding', 'n.embedding')}, 4) AS cos_sim
        FROM cand c
        JOIN embeddings q ON q.vec_id = c.query_id
        JOIN embeddings n ON n.vec_id = c.neighbor_id
    ),
    ivf AS (
        SELECT query_id, neighbor_id FROM scored
        QUALIFY row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) <= {_TOP_K}
    ),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   round({_cos_sql('q.embedding', 'n.embedding')}, 4) AS cos_sim
            FROM embeddings q JOIN embeddings n ON n.vec_id != q.vec_id
            WHERE q.vec_id < {_N_QUERIES}
        )
        QUALIFY row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) <= {_TOP_K}
    )
    SELECT e.query_id,
           round(CAST(count(i.neighbor_id) AS DOUBLE) / {_TOP_K}, 4) AS recall
    FROM exact e LEFT JOIN ivf i
      ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """,
)
def sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF index against exact brute force — the eval
    every ANN deployment runs before trusting the index. Both answer
    sets are computed in-engine (IVF reuses `sim_ann_ivf`'s plan; the
    exact side broadcasts the tiny query set against the corpus and
    takes a windowed top-k), joined on (query, neighbor), and reduced
    to per-query recall. At corpus scale the exact side is the
    expensive one — which is the point: this runs on a SAMPLE of
    queries to certify the cheap path. Probe
    semantics are deterministic, so recall itself is exact and the
    oracle reproduces it bit-for-bit — no tolerance band needed."""
    from pg2ch_spark import registry as _registry

    ivf = _registry.QUERIES["sim_ann_ivf"](spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    e = catalog.load(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    n = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne"))
    scored = (
        n.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine("qe", "ne"), 4).alias("cos_sim"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    exact = (
        scored.withColumn("_rn", F.row_number().over(wk))
        .where(F.col("_rn") <= _TOP_K)
        .select("query_id", "neighbor_id")
    )
    return (
        exact.join(ivf, ["query_id", "neighbor_id"], "left_outer")
        .groupBy("query_id")
        .agg(
            F.round(
                F.count("hit").cast("double") / F.lit(_TOP_K), 4
            ).alias("recall")
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Containment near-dup (exact oracle) — the ASYMMETRIC relation Jaccard
# misses: a short doc quoted inside a long one scores low Jaccard but
# high containment.

_CONTAIN_MIN = 0.9


@register(
    "text_containment_pairs",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
        FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(ni AS DOUBLE) / least(x.n, y.n), 4) AS containment,
           round(CAST(ni AS DOUBLE) / (x.n + y.n - ni), 4) AS jaccard
    FROM inter
    JOIN sz x ON x.doc_id = doc_a
    JOIN sz y ON y.doc_id = doc_b
    WHERE CAST(ni AS DOUBLE) / least(x.n, y.n) >= {_CONTAIN_MIN}
    """,
)
def text_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-containment pairs: C = |A∩B| / min(|A|, |B|) ≥
    {_CONTAIN_MIN} — catches a document EMBEDDED in another (quoting,
    boilerplate wrapping, truncated re-crawls), the asymmetric family
    `text_near_dedup_ngram_jaccard`'s symmetric score dilutes (a 50-
    shingle doc inside a 500-shingle doc has Jaccard ≤ 0.1 but
    containment 1.0). Jaccard rides along so consumers can split
    "near-identical" from "contained". Same scale shape as the Jaccard
    sibling: exact-dup collapse first, then the recall-lossless
    small-side-prefix filter (`_candidates_containment`) generates
    candidates — duplicate clusters cost their true output and hot
    shingles never cross cold docs.
    """
    docs = catalog.load(spark, sf_dir, "documents")
    return _shingle_pair_scores(
        docs,
        lambda cont, jac: cont >= _CONTAIN_MIN,
        prefilter=("containment", _CONTAIN_MIN),
    ).select("doc_a", "doc_b", "containment", "jaccard")
