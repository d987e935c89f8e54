"""Deduplication operators (SURVEY.md §2.10).

Scale notes (100 TB): exact dedup is a hash-groupBy on the normalized
text (shuffle keyed by a 256-bit digest at scale, never the raw text);
near-dup is MinHash-LSH — shingle → 64 permuted min-hashes → 8 bands
of 8 → bucket-join, so candidate generation is linear in corpus size
instead of the O(n²) pairwise Jaccard that only works on fixtures.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..registry import query
from ..tables import prep, row_count, spread_width, table, table_sql_ref
from .similarity import IVF_CENTS_SQL

N_HASHES = 64
N_BANDS = 8  # 8 rows per band → LSH threshold ≈ (1/8)^(1/8) ≈ 0.77
# 2^31−1: universal-hash modulus small enough that (h mod p)·a + b stays
# far below 2^63 (Spark 4 runs ANSI mode — silent wraparound is an error).
MERSENNE = (1 << 31) - 1


@query(
    "dedup_exact",
    oracle="""
    SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY lower(trim(text))
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text, keeping the smallest doc_id.

    Grouping on the normalized text itself (not a hash) so the oracle
    is engine-agnostic (SURVEY §2.10: hash functions differ across
    engines). At 100 TB the group key becomes sha2(normalized) to keep
    shuffle rows narrow — same semantics, collision-negligible.
    """
    prep(spark)
    return (
        table(spark, sf_dir, "documents")
        .groupBy(F.lower(F.trim(F.col("text"))).alias("norm"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keep_id", "n_copies")
    )


# Over-full LSH buckets are non-discriminative: a degenerate band key
# shared by k > cap docs contributes k² candidate pairs (the one
# super-linear term in the pipeline) and near-zero precision, so
# production LSH drops such buckets entirely. Since round 7 BOTH
# engines apply the cap, making it part of the operator's semantics
# rather than a deferred "at production scale" note: the linear-time
# claim now holds on adversarial input too. Fixture max bucket size is
# 10 (sf0.1), so the cap never bites on driver data;
# tests/test_llm_quality.py plants a >cap degenerate bucket and pins
# both the drop and the survival of normal-sized buckets.
LSH_BUCKET_CAP = 64

# Full SQL mirror of the MinHash-LSH pipeline (round 6, upgraded from
# rows-only). Portable because every stage is deterministic integer
# math both engines share: md5 (bit-identical), 60-bit big-endian hex
# parse (15 hex chars — fits a signed BIGINT with no shift, and Spark's
# conv() can produce it directly), mod-Mersenne universal hashes (all
# intermediates < 2^63 so BIGINT never overflows), and per-band XOR
# folds (bit_xor == Spark's ^ fold; mins < 2^31 so the 0x9E3779B1
# product maxes at (2^31−2)·2654435761 ≈ 5.7e18 < 2^63 — above 2^62,
# but still inside signed-BIGINT range, which is the bound that
# matters under ANSI mode). Jaccard is verified on DISTINCT hash sets
# — identical to Spark's array_intersect/array_union set semantics.
#
# Round 8: the 64 permutation minima are WIDE aggregate columns over
# one pass of hh (mirroring the Spark form, which has been unrolled
# since round 6b) instead of a ×64 generate_series expansion — the
# old shape materialized |doc×shingle|·64 rows in DuckDB and
# exhausted container temp disk at ≥4× fixture scale (~10⁹ rows),
# making the oracle the scalability bottleneck of its own check.
# Same values (MIN per (doc, i); XOR chain == bit_xor aggregate,
# both order-free), 64× smaller intermediate: the oracle now verifies
# the 10× duplicate-heavy battery corpus it previously could not.


def _mh_col(i: int) -> str:
    return (
        f"MIN(((h % {MERSENNE}) * {2 * i + 1} + {7919 * (i + 1)})"
        f" % {MERSENNE}) AS mh{i}"
    )


def _band_row(b: int) -> str:
    expr = f"(mh{8 * b} * 2654435761)"
    for i in range(8 * b + 1, 8 * b + 8):
        expr = f"xor({expr}, (mh{i} * 2654435761))"
    return f"SELECT doc_id, {b} AS band, {expr} AS bh FROM minh"


_MINH_COLS = ",\n             ".join(_mh_col(i) for i in range(N_HASHES))
_BAND_ROWS = "\n      UNION ALL\n      ".join(
    _band_row(b) for b in range(N_BANDS)
)

_MINHASH_ORACLE = f"""
    WITH toks AS (
      -- COALESCE: a NULL text would otherwise diverge between engines
      -- (Spark GROUP BY buckets NULL band keys together and pairs
      -- them; DuckDB's equi-join drops NULL keys — round-7 review).
      -- Empty-string behavior is identical in both engines and
      -- fuzz-pinned, so NULL→'' restores total parity.
      SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS t,
             COALESCE(text, '') AS text
      FROM documents
    ), shing AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3
                  THEN list_transform(generate_series(1, len(t) - 2),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                  ELSE [text]
             END AS shingles
      FROM toks
    ), hh AS (
      SELECT DISTINCT doc_id,
             CAST(CAST(('0x' || substr(md5(u.s), 1, 15)) AS UBIGINT)
                  AS BIGINT) AS h
      FROM shing, UNNEST(shingles) AS u(s)
    ), minh AS (
      SELECT doc_id, {_MINH_COLS}
      FROM hh GROUP BY doc_id
    ), band AS (
      {_BAND_ROWS}
    ), bsz AS (
      SELECT band, bh FROM band
      GROUP BY band, bh
      HAVING COUNT(*) BETWEEN 2 AND {LSH_BUCKET_CAP}
    ), cand AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM bsz s
      JOIN band l ON l.band = s.band AND l.bh = s.bh
      JOIN band r ON r.band = s.band AND r.bh = s.bh
                 AND l.doc_id < r.doc_id
    ), inter AS (
      SELECT c.a, c.b, COUNT(*) AS n_int
      FROM cand c
      JOIN hh x ON x.doc_id = c.a
      JOIN hh y ON y.doc_id = c.b AND y.h = x.h
      GROUP BY c.a, c.b
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM hh GROUP BY doc_id
    ), jac AS (
      SELECT c.a, c.b, COALESCE(i.n_int, 0) AS n_int,
             sa.n + sb.n - COALESCE(i.n_int, 0) AS n_uni
      FROM cand c
      LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
      JOIN sizes sa ON sa.doc_id = c.a
      JOIN sizes sb ON sb.doc_id = c.b
    ), per AS (
      SELECT doc_id, COUNT(*) AS n_candidates,
             SUM(CASE WHEN CAST(n_int AS DOUBLE) / n_uni >= 0.8
                      THEN 1 ELSE 0 END) AS n_dups_080
      FROM (
        SELECT a AS doc_id, n_int, n_uni FROM jac
        UNION ALL
        SELECT b AS doc_id, n_int, n_uni FROM jac
      ) GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_candidates, 0) AS n_candidates,
           CAST(COALESCE(p.n_dups_080, 0) AS BIGINT) AS n_dups_080
    FROM documents d LEFT JOIN per p USING (doc_id)
    """


@query("dedup_near_minhash", oracle=_MINHASH_ORACLE)
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate detection via MinHash-LSH over token 3-shingles.

    ONE ``spark.sql`` statement (round 7). All-JVM dataflow (round
    6b): tokens → 3-shingles → per-shingle md5 base hash, 64
    permutation mins h_i(x) = (a_i·x + b_i) mod 2^31−1, bit_xor band
    folds, capped band buckets, within-bucket pair explode with
    exact-Jaccard verification, per-doc DISTINCT-partner rollup. The
    query text is generated as a single CTE chain and parsed once.
    Round-7 profiling (SCALING.md §12) found the 2.3× bench regression
    lived in neither md5 nor the executed plan: building this query as
    ~10 chained DataFrame calls cost ~1.3 s of DRIVER time per build
    (PySpark analyzes eagerly per transformation, so a deep pipeline
    re-analyzes a growing tree each step, plus 64 F.expr parses × py4j
    round trips), vs ~0.95 s for the whole execution. spark.sql parses
    and analyzes the full tree once (~0.05 s); the optimized/physical
    plan is identical.

    The signature stage is a PURE MAP since r9: 64 row-local
    ``array_min(transform(hm_arr, …))`` expressions replace the former
    hash-per-row explode + GROUP BY doc_id. The old aggregate carried
    the shingle-hash array for the downstream Jaccard verify via
    ``first(hs)`` — a non-codegen object aggregate that forced the
    whole signature aggregation SORT-BASED, sorting |shingle hashes|
    exploded rows per partition with the full ~110-element array
    duplicated onto every row. Measured at 500 k docs (same session,
    identical output digests): explode+SortAggregate 19.4 s, narrow
    explode+hash-agg+rejoin 12.1 s, row-local array_min 9.6 s — and
    the map form also deletes the signature shuffle entirely, so the
    first exchange in the whole plan is the band-bucket aggregation.
    HOF lambdas are interpreted, not codegen'd (SCALING.md §11), but
    one multiply-add-mod per element × 64 permutations is cheaper than
    sorting 110× duplicated rows, and the arithmetic is identical.

    Verified non-causes, measured before this rewrite: md5+conv is NOT
    the dominant term (signature projection with md5: 0.17 s; without:
    0.26 s — noise-level difference at 270 k shingles), so the md5 base
    hash STAYS — it is what makes the bit-exact DuckDB oracle above
    possible. The round-6 findings that still have a surface to bind
    to are preserved in SQL form: with the r9 map-form signature stage
    there is NO Generate in the signature path at all, so the old
    InferFiltersFromGenerate hazard (an inferred size(hs)>0 filter
    inlining the md5 chain below the repartition hint) has no trigger
    left — tests/test_plans.py still scans for md5-bearing Filters as
    a tripwire; the hash sets ride the signature row natively (no
    first(), no join-back — a join re-plans the signature subtree as a
    single-task broadcast build);
    the two-sided per-doc rollup uses one explode of a 2-struct array,
    not a UNION ALL — in CTE form a UNION ALL would macro-expand the
    whole upstream pipeline TWICE.

    Buckets are capped at LSH_BUCKET_CAP (round 7): a bucket with more
    members is non-discriminative and would contribute the pipeline's
    only super-linear (k²) term, so both engines drop it — the
    docstring promise "linear in corpus size" now holds on adversarial
    input too, pinned by a degenerate-bucket pytest.

    Output: per-doc near-dup summary (doc_id, n_candidates,
    n_dups_080) — per-doc rows so the result is non-empty even when
    the corpus has no near-dups at a given scale.

    100 TB: signature generation is embarrassingly parallel and
    pipelined with the parquet scan; band-bucket aggregation and the
    capped pair explode are linear in corpus size. The REPARTITION
    hint is the spread_small_corpus policy — since r9 it is gated on
    scan_units (parquet row groups), not row count: a many-row-group
    production layout drops the hint, while a degenerate few-row-group
    corpus keeps it at any size (a single-row-group 5 M-doc replica
    ran this kernel 37× slower than linear on one core — SCALING.md
    §13).
    """
    prep(spark)
    docs_ref = table_sql_ref(spark, sf_dir, "documents")
    w = spread_width(spark, sf_dir, "documents")
    hint = f"/*+ REPARTITION({w}) */ " if w else ""
    perm_mins = ",\n                 ".join(
        f"array_min(transform(hm_arr, hm -> (hm * {2 * i + 1} + "
        f"{7919 * (i + 1)}) % {MERSENNE})) AS m{i}"
        for i in range(N_HASHES)
    )
    band_arr = ",\n                 ".join(
        "(" + " ^ ".join(f"(m{b * 8 + j} * 2654435761)" for j in range(8)) + ")"
        for b in range(N_BANDS)
    )
    return spark.sql(
        f"""
        WITH docs AS (
          -- the hint lives on a BARE (doc_id, text) projection so the
          -- round-robin exchange lands directly over the scan and
          -- EVERY downstream expression — split, shingle concat, md5
          -- — runs above it across the spread width. A hint on the
          -- shingled SELECT instead attaches ABOVE that whole query
          -- block, quietly parking split+concat_ws single-task below
          -- the exchange (caught by the round-7 review; the plan test
          -- now pins the concat_ws projection above the exchange too).
          -- COALESCE(text, '') mirrors the oracle's NULL policy
          SELECT {hint}doc_id, COALESCE(text, '') AS text
          FROM {docs_ref}
        ), shingled AS (
          SELECT doc_id,
                 CASE WHEN size(toks) >= 3
                      THEN transform(sequence(0, size(toks) - 3),
                           i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))
                      ELSE array(text) END AS sh
          FROM (SELECT doc_id, text, split(text, ' ') AS toks
                FROM docs)
        ), hashed AS (
          SELECT doc_id,
                 array_distinct(transform(sh,
                   s -> CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)))
                   AS hs
          FROM shingled
        ), hh AS (
          -- h % M hoisted once per doc into hm_arr; each permutation
          -- min below is then one multiply-add-mod per element
          SELECT doc_id, hs, transform(hs, h -> h % {MERSENNE}) AS hm_arr
          FROM hashed
        ), mins AS (
          -- row-local array_min per permutation: no explode, no
          -- GROUP BY, no shuffle — the signature stage is a pure map
          -- (r9; see docstring for the SortAggregate it replaced)
          SELECT doc_id, hs,
                 {perm_mins}
          FROM hh
        ), band_rows AS (
          SELECT doc_id, hs, band, bh
          FROM mins LATERAL VIEW posexplode(array(
                 {band_arr})) tb AS band, bh
        ), buckets AS (
          SELECT band, bh, ds FROM (
            SELECT band, bh,
                   collect_list(named_struct('doc_id', doc_id, 'hs', hs)) AS ds
            FROM band_rows GROUP BY band, bh
          ) WHERE size(ds) BETWEEN 2 AND {LSH_BUCKET_CAP}
        ), verified AS (
          SELECT x.doc_id AS a, y.doc_id AS b,
                 size(array_intersect(x.hs, y.hs))
                   / size(array_union(x.hs, y.hs)) AS jaccard
          FROM buckets
          LATERAL VIEW explode(ds) tx AS x
          LATERAL VIEW explode(ds) ty AS y
          WHERE x.doc_id < y.doc_id
        ), per_doc AS (
          -- a pair surfaces once per shared band (≤ 8×) with identical
          -- jaccard, so DISTINCT-partner counting dedups without a
          -- dropDuplicates exchange; the 2-struct explode emits both
          -- directions in one pass over `verified`
          -- size(collect_set(...)) not COUNT(DISTINCT ...): two
          -- distinct aggregates over one input plan as an Expand (2×
          -- rows) + an extra keyed Exchange + three HashAggregate
          -- layers; collect_set partial-aggregates map-side, so the
          -- same rollup is ONE two-phase aggregate (partner sets are
          -- bucket-cap-bounded, so the set state is small). collect_set
          -- skips the NULLs the non-dup CASE branch emits, matching
          -- COUNT DISTINCT's null handling.
          SELECT e.doc_id AS doc_id,
                 size(collect_set(e.partner)) AS n_candidates,
                 size(collect_set(CASE WHEN e.jaccard >= 0.8
                                       THEN e.partner END)) AS n_dups_080
          FROM verified
          LATERAL VIEW explode(array(
            named_struct('doc_id', a, 'partner', b, 'jaccard', jaccard),
            named_struct('doc_id', b, 'partner', a, 'jaccard', jaccard)
          )) te AS e
          GROUP BY e.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(p.n_candidates, 0) AS BIGINT) AS n_candidates,
               CAST(COALESCE(p.n_dups_080, 0) AS BIGINT) AS n_dups_080
        FROM (SELECT doc_id FROM {docs_ref}) d
        LEFT JOIN per_doc p ON d.doc_id = p.doc_id
        """
    )


# Portable token hashes both engines can compute identically:
# h1(token) = Σ_{j < min(len,8)} (ascii(char_j) % 256) · 131^j — the
# byte bound caps h1 at 255·Σ131^j ≈ 1.7e17 < 2^63 for ANY codepoint
# (raw codepoints overflowed int64 under Spark's ANSI mode for chars
# ≥ U+3600 in position 8); h2 = same with base 137. The signature
# takes the LOW 31 bits of each (well-mixed region), giving a 62-bit
# SimHash with no sign issues.
_POW131 = [131**j for j in range(8)]
_POW137 = [137**j for j in range(8)]
SIMHASH_BITS = 62  # bits 0..30 from h1, bits 31..61 from h2


def _pow_array_sql(pows: list[int]) -> str:
    return "[" + ", ".join(f"CAST({p} AS BIGINT)" for p in pows) + "]"


# Shared by the dedup_simhash oracle and, as a CTE, by the
# dedup_simhash_hamming oracle.
_SIMHASH_ORACLE = f"""
    WITH tok AS (
      -- COALESCE: NULL text must behave as '' on both engines — the
      -- UNNEST(NULL) path emits zero rows and drops the doc entirely,
      -- while Spark's explode_outer keeps it (round-7 review).
      SELECT doc_id, token, COUNT(*) AS tf FROM (
        SELECT doc_id,
               UNNEST(string_split(lower(COALESCE(text, '')), ' ')) AS token
        FROM documents
      ) GROUP BY doc_id, token
    ), hashed AS (
      SELECT doc_id, tf,
             CAST(list_sum(list_transform(
               generate_series(1, least(length(token), 8)),
               i -> (ascii(substr(token, CAST(i AS INTEGER), 1)) % 256)
                    * {_pow_array_sql(_POW131)}[CAST(i AS INTEGER)]
             )) AS BIGINT) AS h1,
             CAST(list_sum(list_transform(
               generate_series(1, least(length(token), 8)),
               i -> (ascii(substr(token, CAST(i AS INTEGER), 1)) % 256)
                    * {_pow_array_sql(_POW137)}[CAST(i AS INTEGER)]
             )) AS BIGINT) AS h2
      FROM tok
    ), bits AS (
      SELECT doc_id, CAST(b.b AS INTEGER) AS bit,
             SUM(CASE WHEN ((CASE WHEN b.b < 31 THEN h1 ELSE h2 END)
                            // (CAST(1 AS BIGINT) << CAST(b.b % 31 AS INTEGER))) % 2 = 1
                      THEN tf ELSE -tf END) AS w
      FROM hashed, (SELECT UNNEST(generate_series(0, {SIMHASH_BITS - 1})) AS b) b
      GROUP BY doc_id, b.b
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN w > 0
                    THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """


@query("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """62-bit SimHash per document with a full SQL oracle.

    Classic Charikar scheme: each token occurrence contributes ±1 to
    each bit position according to its hash's bit, and the signature
    takes the sign. Token hashes are char-polynomials (Σ ascii·131^j
    and Σ ascii·137^j over the first 8 chars, codepoints bounded to a
    byte with ``ascii(c) % 256`` so max h = 255·Σ131^j ≈ 1.7e17 < 2^63
    under ANSI mode) — deliberately portable integer arithmetic so
    BOTH engines derive bit-identical signatures. The signature takes
    the low 31 bits of each polynomial: 62 total, sized so
    dedup_simhash_hamming's pigeonhole bands get ~2^15–2^16 distinct
    values each.

    ONE ``spark.sql`` statement (round 7; same finding as
    dedup_near_minhash, SCALING.md §12): the round-6b chained-
    DataFrame build of this query cost ~0.45 s of driver time PER
    BUILD (eager per-transformation analysis + 62 F.expr parses over
    py4j), which bench — building fresh per run, as any real caller
    would — paid every time; the executed plan itself runs ~0.6 s.
    The SQL text is generated once per call and parsed/analyzed in
    one pass (~0.03 s).

    The executed dataflow is unchanged from round 6b, ONE shuffle
    total: occurrence-level explode (no per-(doc, token) tf
    pre-aggregate — Σ(±1 per occurrence) ≡ Σ(±tf per distinct token),
    so the oracle's tok CTE grouping is mathematically redundant
    here), the two 8-term unrolled polynomials in codegen, then the
    62 bit-weights as unrolled SUM columns in one groupBy(doc_id).
    Round 7 also strength-reduces the per-row bit test: the old form
    summed CASE WHEN (h div 2^b) % 2 = 1 THEN 1 ELSE -1 END; the new
    form sums the raw bit ``shiftright(h, b) & 1`` (shift+mask,
    branchless) and recovers the signed weight in the final
    projection as w_b = 2·s_b − n > 0 ⇔ bit set — identical output
    for every input including NULL tokens (a NULL row is skipped by
    SUM but counted by n, contributing exactly the −1 the old ELSE
    branch produced). LATERAL VIEW OUTER keeps
    InferFiltersFromGenerate from pushing an inferred filter below
    the scan (round-6 rule, still pinned by plan tests).
    """
    prep(spark)
    return spark.sql(_simhash_sql_body(spark, sf_dir))


def _simhash_sql_body(spark: SparkSession, sf_dir: str) -> str:
    """The dedup_simhash statement as SQL text — shared verbatim by
    dedup_simhash (runs it directly) and dedup_simhash_hamming (embeds
    it as a CTE so the whole hamming pipeline is ONE parse/analysis
    pass, r10), keeping the two signature derivations bit-identical by
    construction."""
    docs_ref = table_sql_ref(spark, sf_dir, "documents")
    h1 = " + ".join(
        f"(ascii(substr(token, {j + 1}, 1)) % 256)"
        f" * CAST({_POW131[j]} AS BIGINT)"
        for j in range(8)
    )
    h2 = " + ".join(
        f"(ascii(substr(token, {j + 1}, 1)) % 256)"
        f" * CAST({_POW137[j]} AS BIGINT)"
        for j in range(8)
    )
    bit_sums = ",\n                 ".join(
        f"SUM(shiftright({'h1' if b < 31 else 'h2'}, {b % 31}) & 1) AS s{b}"
        for b in range(SIMHASH_BITS)
    )
    sig = "\n             + ".join(
        f"(CASE WHEN 2 * s{b} > n THEN CAST({1 << b} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
        WITH tok AS (
          -- COALESCE(text, '') mirrors the oracle's NULL policy
          SELECT doc_id, token
          FROM (SELECT doc_id, COALESCE(text, '') AS text
                FROM {docs_ref})
          LATERAL VIEW OUTER explode(split(lower(text), ' ')) tt AS token
        ), hashed AS (
          SELECT doc_id, {h1} AS h1,
                 {h2} AS h2
          FROM tok
        ), wsum AS (
          SELECT doc_id, COUNT(1) AS n,
                 {bit_sums}
          FROM hashed GROUP BY doc_id
        )
        SELECT doc_id,
               {sig} AS simhash
        FROM wsum
        """


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(string_split(lower(text), ' ')) - 2, 1)),
               i -> string_split(lower(text), ' ')[CAST(i AS INTEGER)] || ' ' ||
                    string_split(lower(text), ' ')[CAST(i AS INTEGER) + 1] || ' ' ||
                    string_split(lower(text), ' ')[CAST(i AS INTEGER) + 2]
             )) AS grams
      FROM documents WHERE doc_id < 200
    )
    SELECT a.doc_id AS doc_a,
           COUNT(CASE WHEN
             CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5
             THEN 1 END) AS n_similar_05
    FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
    GROUP BY a.doc_id
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise 3-gram Jaccard similarity counts (threshold 0.5)
    over a bounded slice (doc_id < 200 — pairwise is quadratic and only
    legal on a bounded set; the linear-scale path is dedup_near_minhash,
    whose LSH buckets reduce to exactly this verification)."""
    prep(spark)
    toks = F.split(F.lower("text"), " ")
    grams = F.array_distinct(
        F.zip_with(
            F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1))),
            F.zip_with(
                F.slice(toks, 2, F.greatest(F.size(toks) - 2, F.lit(1))),
                F.slice(toks, 3, F.greatest(F.size(toks) - 2, F.lit(1))),
                lambda b, c: F.concat_ws(" ", b, c),
            ),
            lambda a, bc: F.concat_ws(" ", a, bc),
        )
    )
    sh = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", grams.alias("grams"))
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("gb"))
    pairs = a.join(F.broadcast(b), F.col("doc_a") != F.col("doc_b"))
    jac = F.size(F.array_intersect("ga", "gb")).cast("double") / F.size(
        F.array_union("ga", "gb")
    )
    return pairs.groupBy("doc_a").agg(
        F.count(F.when(jac >= 0.5, 1)).alias("n_similar_05")
    )


@query(
    "dedup_embed_cosine",
    oracle="""
    SELECT a.vec_id AS doc_id,
           COUNT(CASE WHEN list_cosine_similarity(a.embedding, b.embedding) >= 0.9
                 THEN 1 END) AS n_neardup_09
    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    GROUP BY a.vec_id
    """,
)
def dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate counts (threshold 0.9) per
    vector, as a DISTRIBUTED blocked matrix product — no driver-side
    collect anywhere in the plan (round-1 version broadcast the corpus
    from the driver; scale-killer, flagged by the round-1 review).

    Dataflow: (1) hash-partition vectors into B blocks and pack each
    block into ONE row (vec_ids + a dense float64 matrix as bytes) with
    applyInPandas — a single narrow shuffle on block_id; (2) form the
    B(B+1)/2 UNORDERED block pairs (block_a <= block_b) with a
    self-join, so each pair row carries the two packed matrices
    THROUGH THE SHUFFLE, never through the driver; (3) mapInPandas
    GEMMs each block pair ONCE and emits partial neighbor counts for
    BOTH blocks (row sums and column sums of the same thresholded
    product — cosine is symmetric); (4) sum partials per vec_id.
    Exact all-pairs is inherently O(n²) work, but memory and
    parallelism are governed by B: per-task footprint is 2·(n/B) rows
    and total shuffle volume is (B+1)/2·corpus, both tunable. Self-pairs are
    excluded arithmetically (cos(self)=1 always clears the threshold).
    At 100 TB exact all-pairs is the verification kernel, not the
    candidate generator — candidates come from IVF cells
    (sim_ann_ivf_topk's quantizer) or LSH (dedup_near_minhash); this
    blocked-GEMM shape is then applied per cell.

    A pairwise join with per-element array folds measured 21s at sf0.1;
    the packed-GEMM form runs the same math in well under a second.
    """
    prep(spark)
    import math

    import numpy as np

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # Adaptive block count (r4): target ~1024 vectors per block so the
    # per-task GEMM is substantial and the B² pair-task count tracks
    # corpus size — a fixed B=8 spent more wall time scheduling 64
    # near-empty tasks than multiplying at fixture scale, and would
    # under-split a 10⁸-vector corpus. Sized from parquet FOOTER
    # metadata (r5): the r4 version ran `emb.count()` — a whole extra
    # Spark action scanning the table once per invocation, which at
    # 100 TB is a second full pass over the corpus to learn one
    # integer. `row_count` reads num_rows from the footer on the
    # driver (catalog/ANALYZE stats in a deployment) — zero jobs.
    n_vec = row_count(sf_dir, "embeddings")
    # Floor B so the B² pair-task count covers the cluster even on a
    # small corpus (r5: the pure n/1024 rule gave B=2 at fixture scale
    # — 4 GEMM tasks on 32 cores; measured 0.69s vs 0.46s at B≥8).
    n_blocks = max(1, min(64, max(math.ceil(n_vec / 1024), 8), n_vec))
    blocked = emb.withColumn("block", F.pmod(F.col("vec_id"), F.lit(n_blocks)))

    def pack(pdf):
        import pandas as pd

        mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        return pd.DataFrame(
            {
                "block": pdf["block"].iloc[:1],
                "vec_ids": [pdf["vec_id"].to_numpy().tolist()],
                "mat": [mat.tobytes()],
                "n_rows": [mat.shape[0]],
            }
        )

    # Persist the packed form: it feeds BOTH crossJoin sides, so without
    # it the pack stage runs twice per job. Repeat invocations do NOT
    # stack cache entries — CacheManager keys on the canonicalized plan,
    # so every invocation of this query (same sf_dir) shares ONE entry
    # ("asked to cache already cached data" path), and the packed form
    # is ~corpus-sized float64, DISK_ONLY territory at 100 TB.
    # Session cache budget (ADVICE r5): this is the ONE deliberately
    # session-lifetime cache in the llm family — the returned frame
    # reads it lazily from both crossJoin sides (the plan test pins
    # InMemoryTableScan x2), so it cannot be unpersisted inside this
    # function. Default storage level is MEMORY_AND_DISK: under
    # pressure it spills, never silently recomputes mid-job.
    packed = (
        blocked.groupBy("block")
        .applyInPandas(
            pack, schema="block long, vec_ids array<long>, mat binary, n_rows long"
        )
        .persist()
    )

    # Symmetric halving (optimization r15, guide §2.3 "shuffle fewer
    # bytes" / §1.2 "the distributed algorithm"): cosine is symmetric,
    # so the ordered B² pair enumeration computed every off-diagonal
    # GEMM twice (a@b.T and its transpose b@a.T) and shuffled every
    # packed matrix 2B times. Enumerating only unordered pairs
    # (block_a <= block_b) and emitting BOTH sides' partial counts
    # from the ONE product — row hits = sum over axis 1, column hits
    # = sum over axis 0 — halves the pair-task count (B² →
    # B(B+1)/2), the shuffled matrix bytes (2B·corpus → (B+1)·corpus)
    # and the GEMM FLOPs. Output parity (ADVICE r15 wording): the
    # transpose-view reuse is mathematically identical — sim[i,j] =
    # dot(a_i, b_j) either way — and verified bit-stable on this BLAS
    # build via the oracle (3-SF hashes + the 20k 10× battery). A
    # BLAS whose GEMM accumulation order differs between a@b.T and
    # the old b@a.T path could in principle flip a similarity sitting
    # exactly at the 0.9 threshold; the oracle hash is the guard.
    pairs = (
        packed.alias("a")
        .crossJoin(
            packed.selectExpr(
                "block AS block_b",
                "vec_ids AS vec_ids_b",
                "mat AS mat_b",
                "n_rows AS n_rows_b",
            ).alias("b")
        )
        .filter(F.col("block") <= F.col("block_b"))
    )

    def score(batches):
        # mapInArrow since optimization r16 (guide §4.2): the pandas
        # form copied every ~0.5 MB packed matrix into a Python bytes
        # cell and walked rows via iterrows; Arrow binary cells are
        # zero-copy buffer slices and the GEMM/threshold/sum sequence
        # is unchanged (same float ops on the same bytes — rows
        # identical). Interleaved A/B: 0.578/0.495 → 0.532/0.460 s.
        import pyarrow as pa

        for batch in batches:
            names = {n: i for i, n in enumerate(batch.schema.names)}
            blocks = batch.column(names["block"]).to_pylist()
            blocks_b = batch.column(names["block_b"]).to_pylist()
            mats = batch.column(names["mat"])
            mats_b = batch.column(names["mat_b"])
            nrs = batch.column(names["n_rows"]).to_pylist()
            nrs_b = batch.column(names["n_rows_b"]).to_pylist()
            vids = batch.column(names["vec_ids"])
            vids_b = batch.column(names["vec_ids_b"])
            ids_out, cnt_out = [], []
            for i in range(batch.num_rows):
                a = np.frombuffer(
                    mats[i].as_buffer(), dtype=np.float64
                ).reshape(int(nrs[i]), -1)
                b = np.frombuffer(
                    mats_b[i].as_buffer(), dtype=np.float64
                ).reshape(int(nrs_b[i]), -1)
                sim = a @ b.T >= 0.9
                ids_out.extend(vids[i].as_py())
                cnt_out.extend(sim.sum(axis=1).tolist())
                if blocks[i] != blocks_b[i]:
                    # off-diagonal pair: the same product also scores
                    # block b's rows against block a (transpose view)
                    ids_out.extend(vids_b[i].as_py())
                    cnt_out.extend(sim.sum(axis=0).tolist())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids_out, type=pa.int64()),
                    pa.array(cnt_out, type=pa.int64()),
                ],
                names=["doc_id", "partial"],
            )

    partials = pairs.mapInArrow(score, schema="doc_id long, partial long")
    # minus 1: each vector's self-pair (counted once, in its own block pair)
    return partials.groupBy("doc_id").agg(
        (F.sum("partial") - F.lit(1)).alias("n_neardup_09")
    )


@query(
    "dedup_cluster_cc",
    oracle="""
    SELECT doc_id,
           MIN(doc_id)  OVER (PARTITION BY lang, source) AS cluster_rep,
           COUNT(*)     OVER (PARTITION BY lang, source) AS cluster_size
    FROM documents
    """,
)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over a duplicate-candidate graph by
    iterative min-label propagation — the step that turns pairwise
    near-dup hits into dedup groups (keep one doc per component).

    The candidate graph here is chain edges linking consecutive doc_ids
    within each (lang, source) bucket. Because those edges come from an
    equivalence relation, the true components are exactly the buckets —
    which is what makes an exact SQL oracle possible for an iterative
    algorithm: the propagation must converge to MIN(doc_id) per bucket,
    along paths up to ~bucket-size long, or the hash check fails.

    Each iteration: (1) every node takes the min label over itself and
    its neighbors, (2) labels are path-compressed with TWO hops
    (label := g[g[g[doc]]] — cheap broadcast joins over the round's
    checkpointed gather, r15 optimization) so convergence is O(log
    path) with a smaller constant, (3) lineage is truncated with
    localCheckpoint at the gather — without it the self-joined plan
    doubles every round, which is the classic iterative-Spark trap (on
    a cluster use checkpoint() to durable storage instead). Driver
    polls a changed-count each round: that is a scalar aggregate, not a
    collect of data.
    """
    prep(spark)
    import math

    # Size the iteration's shuffle width to the LABEL frame, not the
    # session default (r5): each round runs 2 joins + an agg over
    # 16-byte (doc_id, label) pairs — at cluster scale the session
    # default tracks the CORPUS width, which would spread a tiny label
    # frame over thousands of near-empty tasks per round. Sized from
    # footer stats (~250k label pairs per task), floored at 4, never
    # above the session default; restored after the loop. At fixture
    # scale the effect is within run-to-run JIT noise (an earlier A/B
    # that showed 2.8→2.3s was confounded with JVM warm-up).
    #
    # The conf must be applied INSIDE the loop, after its table() call:
    # table() runs prep(), which resets shuffle partitions to the
    # session default — setting iter_parts here and then entering the
    # loop made the tuning a silent no-op in round 5 (ADVICE r5).
    # tests/test_plans.py asserts the live conf the loop observed.
    n_docs = row_count(sf_dir, "documents")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    iter_parts = max(4, min(int(prev_parts), math.ceil(n_docs / 250_000)))
    try:
        return _cluster_cc_loop(spark, sf_dir, iter_parts)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


# Conf snapshot taken inside _cluster_cc_loop right before the first
# iteration action — i.e. AFTER prep()'s reset. Lets the test assert
# the tuning actually reached the iteration shuffles.
_LAST_ITER_PARTS: int | None = None


def ckpt_hash_partitioned(spark: SparkSession, df: DataFrame) -> DataFrame:
    """localCheckpoint that PRESERVES the frame's hash partitioning.

    Dataset.checkpoint copies the physical plan's outputPartitioning
    into the resulting LogicalRDD — but under AQE the materialized
    plan is an AdaptiveSparkPlan whose pre-execution partitioning is
    UnknownPartitioning, so the checkpoint silently loses the layout
    (probed on this Spark build; the r15 optimization round's
    co-partitioned cluster_cc loop depends on keeping it). AQE is
    toggled off just for the materialization; downstream queries still
    plan adaptively and see the concrete HashPartitioning on the RDD
    scan, letting EnsureRequirements skip the exchange for joins and
    aggregates keyed on it. tests/test_plans.py pins the preservation.

    NOT concurrency-safe (ADVICE r15): the AQE toggle is session-
    global, so any query planned on this session during the
    materialization window (e.g. a concurrent streaming micro-batch)
    would plan without AQE. Callers must hold the session
    single-threaded across the call — true for the cluster_cc loop
    and the bench/driver harnesses; scope the conf via a dedicated
    session clone before reusing this helper from concurrent code.
    """
    aqe_prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return df.localCheckpoint()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)


def _cluster_cc_loop(
    spark: SparkSession, sf_dir: str, iter_parts: int | None = None
) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    w = Window.partitionBy("lang", "source").orderBy("doc_id")
    chain = (
        docs.withColumn("prev", F.lag("doc_id").over(w))
        .filter(F.col("prev").isNotNull())
        .select(F.col("doc_id").alias("src"), F.col("prev").alias("dst"))
    )
    # Edge derivation shuffles the full corpus (the lag window) — run it
    # under the session-default width, then narrow to the label-frame
    # width for the iteration. localCheckpoint is an action, so the
    # conf in force HERE is what each materialization actually uses.
    #
    # Optimization r15 (guide §2.4 "remove shuffles outright"): both
    # checkpointed loop inputs are PRE-HASH-PARTITIONED on their join
    # key at the iteration width. Dataset.checkpoint preserves the
    # physical plan's outputPartitioning through LogicalRDD — but ONLY
    # when the materialized plan is not an AdaptiveSparkPlan (under
    # AQE the checkpoint reports UnknownPartitioning; probed on this
    # Spark build), so the two loop-invariant checkpoints materialize
    # with AQE momentarily off. Result, verified in the plan: every
    # iteration's gather join (edges.src == labels.doc_id) sees both
    # sides as hashpartitioning-ed RDD scans and plans with ZERO
    # exchanges once labels outgrow the broadcast threshold (at
    # fixture scale the join broadcasts labels anyway; at cluster
    # scale this deletes a full edge-frame exchange — ~2 rows/doc —
    # from EVERY round). The narrower checkpointed edge RDD (width
    # tasks instead of the session-default scan width) also cuts
    # per-iteration task count at fixture scale. A/B + plan evidence
    # in OPTIMIZATION_r15.md.
    width = iter_parts if iter_parts is not None else int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )

    def _ckpt_partitioned(df: DataFrame) -> DataFrame:
        return ckpt_hash_partitioned(spark, df)

    # Two-stage edge checkpoint (review r15-opt): the HEAVY part of
    # the derivation — the full-corpus lag window and its shuffles —
    # materializes under AQE (skew splitting / coalescing stay in
    # force on the one stage that needs them); only the cheap narrow
    # repartition of the already-checkpointed 2-column frame runs
    # through the AQE-off partition-preserving checkpoint.
    edges_raw = chain.unionByName(
        chain.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    edges = _ckpt_partitioned(edges_raw.repartition(width, "src"))

    if iter_parts is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(iter_parts))
    global _LAST_ITER_PARTS
    _LAST_ITER_PARTS = int(spark.conf.get("spark.sql.shuffle.partitions"))

    labels = _ckpt_partitioned(
        docs.select("doc_id", F.col("doc_id").alias("label")).repartition(
            width, "doc_id"
        )
    )
    for _ in range(32):  # bound >> log2(max component size)
        # Convergence detection is FOLDED into the iteration since
        # round 15 (VERDICT r14 item 3a): the labels branch tags its
        # rows (own=1) so each node's OLD label survives the gather
        # as an aggregate, and the compressed frame carries a per-row
        # chg bit — convergence is a join-free SUM, not a second
        # shuffle round-trip.
        nbr_min = (
            edges.join(labels, edges["src"] == labels["doc_id"])
            .select(
                F.col("dst").alias("doc_id"),
                "label",
                F.lit(0).alias("own"),
            )
        )
        # Optimization r15 (guide §1.2 "don't compute things you
        # throw away"): the checkpoint moved from `compressed` to
        # `gathered` — the round's plan used to reference gathered
        # TWICE (join probe + label lookup), and with no runtime
        # stage reuse the union+aggregate subtree executed twice per
        # round. Checkpointing gathered materializes it ONCE; the
        # compression hops become near-free broadcast joins over the
        # RDD. That also makes a SECOND path-compression hop (label
        # := g[g[g[doc]]]) affordable, which cuts the measured round
        # count 7 → 5 at sf0.1 and log-factors it at any scale.
        # Interleaved 3-arm A/B (4 warmups + n=5, two reps): old
        # shape 2.18/2.18 s, ckpt-gathered 1-hop 2.52/2.41 (the
        # extra materialization alone loses), ckpt-gathered 2-hop
        # 1.94/1.88 s — output cell-identical across all arms.
        gathered = (
            labels.withColumn("own", F.lit(1))
            .unionByName(nbr_min)
            .groupBy("doc_id")
            .agg(
                F.min("label").alias("label"),
                # each doc_id has exactly one labels-branch row, so
                # this is its previous label (max over one value)
                F.max(F.when(F.col("own") == 1, F.col("label"))).alias(
                    "old_label"
                ),
            )
            .localCheckpoint()
        )
        cur = gathered
        # hop-invariant lookup (node -> its gathered label), built once
        lk = gathered.select(
            F.col("doc_id").alias("label"), F.col("label").alias("labelN")
        )
        for _hop in range(2):
            # left + coalesce: every label IS some doc_id, but the
            # outer form keeps the hop total even if that invariant
            # ever loosens (a miss keeps the current label)
            cur = cur.join(lk, "label", "left").select(
                "doc_id",
                F.coalesce("labelN", "label").alias("label"),
                "old_label",
            )
        compressed = cur.select(
            "doc_id",
            "label",
            (F.col("label") != F.col("old_label")).cast("long").alias("chg"),
        )
        # SUM over zero rows is NULL — an empty corpus must converge
        # on iteration 1 like the old count() did (review r15)
        changed = compressed.agg(F.sum("chg")).first()[0] or 0
        labels = compressed.drop("chg")
        if changed == 0:
            break
    else:
        raise AssertionError("label propagation did not converge in 32 rounds")

    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "label").select(
        "doc_id",
        F.col("label").alias("cluster_rep"),
        "cluster_size",
    )


# (shift, width): 4 disjoint bands covering signature bits 0..61 —
# shared by the engine and its SQL oracle so the bucketing semantics
# cannot drift between them.
HAMMING_BAND_SPEC: tuple[tuple[int, int], ...] = (
    (0, 16),
    (16, 15),
    (31, 16),
    (47, 15),
)

# Round 10 (VERDICT r9 item 3): the within-band pairwise verify gets
# the same medicine LSH_BUCKET_CAP gave minhash in round 7. A (band,
# value) bucket with k members contributes k² candidate pairs — the
# one super-linear term in the pipeline — and an over-full band bucket
# is non-discriminative by the same argument as an over-full LSH
# bucket (it groups docs by 15-16 signature bits, so thousands of
# members means those bits carry no near-dup signal for that corpus;
# production SimHash dedup à la Manku/Jain/Sarma sizes bands so
# expected bucket size stays O(1) and treats blowups as degenerate).
# Since round 10 BOTH engines drop buckets over the cap, making the
# cap part of the operator's semantics: candidate pairs are exactly
# the pairs sharing at least one ≤CAP band bucket. Measured motive:
# the duplicate-heavy 100× battery (every doc × 100 exact copies ⇒
# every bucket a multiple of 100) spilled ~70 GB of scratch through
# the uncapped pairwise verify; capped, those buckets drop and the
# run is bounded. Fixture impact: sf0.001/sf0.01 max bucket is 50/43
# (measured r10) so driver data is bit-identical with or without the
# cap; sf0.1 has 41 over-cap buckets carrying 77% of all candidate
# pairs (max bucket 447 — a template-doc cluster), which the capped
# semantics deliberately skip on both sides.
# tests/test_llm_quality.py plants a >CAP degenerate band and pins
# both the drop and the survival of normal-sized buckets.
HAMMING_BAND_CAP = 64


def _hamming_band_rows_sql() -> str:
    rows = []
    for b, (shift, width) in enumerate(HAMMING_BAND_SPEC):
        mask = (1 << width) - 1
        rows.append(
            f"SELECT doc_id, simhash, {b} AS band,"
            f" (simhash >> {shift}) & {mask} AS val FROM sig"
        )
    return "\n      UNION ALL\n      ".join(rows)


@query(
    "dedup_simhash_hamming",
    # AS MATERIALIZED (DuckDB-only SQL — oracles never run on Spark):
    # sig is referenced 5× (4 band branches + the final left join) and
    # band 3× (bsz + both join sides); DuckDB inlines CTEs by default,
    # so without the hint the token-level signature pipeline re-ran
    # per reference and spilled >80 GB of temp at the 500 k-doc
    # battery — the oracle-scale-budget lesson from the r8 minhash
    # restructure, in CTE-materialization form.
    oracle=f"""
    WITH sig AS MATERIALIZED ({_SIMHASH_ORACLE}),
    band AS MATERIALIZED (
      {_hamming_band_rows_sql()}
    ), bsz AS (
      SELECT band, val FROM band
      GROUP BY band, val
      HAVING COUNT(*) BETWEEN 2 AND {HAMMING_BAND_CAP}
    ), cand AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
             l.simhash AS sa, r.simhash AS sb
      FROM bsz s
      JOIN band l ON l.band = s.band AND l.val = s.val
      JOIN band r ON r.band = s.band AND r.val = s.val
                 AND l.doc_id < r.doc_id
    ), hit AS (
      SELECT a, b FROM cand WHERE bit_count(xor(sa, sb)) <= 3
    ), per AS (
      SELECT doc_id, COUNT(*) AS n FROM (
        SELECT a AS doc_id FROM hit
        UNION ALL
        SELECT b AS doc_id FROM hit
      ) GROUP BY doc_id
    )
    SELECT d.doc_id, CAST(COALESCE(p.n, 0) AS BIGINT) AS n_hamming3
    FROM sig d LEFT JOIN per p ON p.doc_id = d.doc_id
    """,
)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup neighbor counts by SimHash hamming distance ≤ 3,
    found with band bucketing; since round 10 over-full band buckets
    are dropped (HAMMING_BAND_CAP) on BOTH engine and oracle sides.

    Pigeonhole: a 62-bit signature split into 4 disjoint bands (16+15+
    16+15 bits) can differ in ≤3 bits only if at least one band is
    bit-identical — so joining on (band, band_value) buckets generates
    a candidate superset, and the exact `bit_count(xor) ≤ 3` filter on
    candidates returns exactly the pairwise answer restricted to pairs
    that share at least one ≤CAP bucket (the full pairwise answer
    whenever no bucket exceeds the cap — true of sf0.001/sf0.01
    driver data, measured r10). Band cardinality is 2^16/2^15 ≈
    65k/32k values; at corpora large enough that AVERAGE buckets
    approach the cap (~10^6-10^7 docs at these widths) the honest
    scale path is widening the signature/bands so buckets stay
    discriminative — the cap is the guardrail that converts a
    degenerate band from a k² pair blowup (measured: ~70 GB of
    scratch spill on the duplicate-heavy 100× battery) into a dropped
    candidate source, exactly the LSH_BUCKET_CAP semantics minhash
    adopted in round 7. Exact-duplicate mass should be collapsed with
    dedup_exact FIRST — a corpus of k-copy groups makes every band
    bucket a k-multiple, which is the adversarial input the cap
    bounds.

    Since late round 10 the kernel is the SAME capped-bucket reshape
    minhash uses, as ONE spark.sql statement: signature CTE → band
    rows (posexplode, pure map) → collect_list bucket aggregate with
    the size-capped filter → in-task pair explode + exact popcount →
    DISTINCT-partner count. The r6 objection to this shape (a 447-doc
    bucket concentrates k² pair work AND k copies of the k-element
    struct array in one task — measured 3-7 s vs the join's 1.6 s)
    was about UNCAPPED buckets; with the cap, a bucket array is ≤ CAP
    structs (~1 KB) and per-bucket pair work ≤ C(CAP,2), so the
    reshape's concentration hazard is bounded by construction, and it
    deletes the self-join, the bucket-size semi-join, and the
    dropDuplicates exchange the first capped form paid (a pair
    surfacing in ≤4 bands dedups inside the per-doc collect_set,
    which is itself bounded by 4·(CAP−1) partners). Measured at
    sf0.1 (4 warm-ups, n=5): join-form capped kernel 2.42-2.72 s,
    uncapped r9 kernel 2.26 s, this form 1.10 s — 8 exchanges in the
    plan vs the join form's 22. ZERO cached state (no
    persist/localCheckpoint — the r5 hazard).
    """
    prep(spark)
    docs_ref = table_sql_ref(spark, sf_dir, "documents")
    band_vals = ", ".join(
        f"shiftright(simhash, {shift}) & {(1 << width) - 1}"
        for shift, width in HAMMING_BAND_SPEC
    )
    return spark.sql(
        f"""
        WITH sig AS ({_simhash_sql_body(spark, sf_dir)}),
        band_rows AS (
          SELECT doc_id, simhash, band, val
          FROM sig
          LATERAL VIEW OUTER posexplode(array({band_vals})) tb AS band, val
        ), buckets AS (
          SELECT ds FROM (
            SELECT band, val,
                   collect_list(named_struct(
                     'doc_id', doc_id, 'simhash', simhash)) AS ds
            FROM band_rows GROUP BY band, val
          ) WHERE size(ds) BETWEEN 2 AND {HAMMING_BAND_CAP}
        ), hits AS (
          SELECT x.doc_id AS a, y.doc_id AS b
          FROM buckets
          LATERAL VIEW explode(ds) tx AS x
          LATERAL VIEW explode(ds) ty AS y
          WHERE x.doc_id < y.doc_id
            AND bit_count(x.simhash ^ y.simhash) <= 3
        ), per_doc AS (
          -- a pair surfaces once per shared band (≤4×); collect_set
          -- dedups partners without a dropDuplicates exchange, and
          -- the set state is bounded by 4·(CAP−1) partners per doc
          SELECT e.doc_id AS doc_id, size(collect_set(e.partner)) AS n
          FROM hits
          LATERAL VIEW explode(array(
            named_struct('doc_id', a, 'partner', b),
            named_struct('doc_id', b, 'partner', a)
          )) te AS e
          GROUP BY e.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(p.n, 0) AS BIGINT) AS n_hamming3
        FROM (SELECT doc_id FROM {docs_ref}) d
        LEFT JOIN per_doc p ON d.doc_id = p.doc_id
        """
    )


@query(
    "dedup_embed_cosine_ivf",
    oracle=f"""
    WITH {IVF_CENTS_SQL},
    assigned AS (
      SELECT vec_id, embedding, cent_id FROM (
        SELECT e.vec_id, e.embedding, c.cent_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.embedding, c.c_vec) DESC,
                          c.cent_id ASC
               ) AS r
        FROM embeddings e CROSS JOIN cents c
      ) WHERE r = 1
    )
    SELECT a.vec_id AS doc_id,
           COUNT(CASE WHEN list_cosine_similarity(a.embedding, b.embedding) >= 0.9
                 THEN 1 END) AS n_neardup_09
    FROM assigned a
    LEFT JOIN assigned b
      ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id
    GROUP BY a.vec_id
    """,
)
def dedup_embed_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell embedding near-dup counts (threshold 0.9) — the
    candidate-generation scale path that pairs with dedup_embed_cosine's
    exact blocked GEMM (round-1 review asked for exactly this shape).

    Dataflow: assign every vector to its nearest coarse centroid (the
    deterministic distinct-vector hash-spread quantizer shared with
    sim_ann_ivf_topk — similarity.ivf_centroids, the round-8 fix for
    the duplicate-head one-cell collapse a round-7 probe measured; one
    broadcast join, linear), then GEMM ONLY within each inverted list
    via applyInPandas — O(N²/C) work instead of O(N²), and each cell's
    matrix fits one task. Approximate by construction: a pair whose
    members quantize to different cells is missed (multi-probe assign
    lowers that risk at deployment; exact duplicates always share a
    cell because identical vectors share a nearest centroid).
    tests/test_llm_quality.py pins (a) per-vector counts never exceed
    the exact operator's, and (b) planted duplicate clusters are fully
    recovered.
    """
    prep(spark)
    import numpy as np

    from .similarity import _dot, _with_norm, ivf_centroids

    emb = _with_norm(table(spark, sf_dir, "embeddings"))
    cents = ivf_centroids(spark, sf_dir)
    w = Window.partitionBy("vec_id").orderBy(F.col("c_cos").desc(), F.col("cent_id").asc())
    assigned = (
        emb.crossJoin(F.broadcast(cents))
        .withColumn(
            "c_cos",
            _dot(F.col("vec_d"), F.col("c_vec")) / (F.col("norm") * F.col("c_norm")),
        )
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("vec_id", "vec_d", "cent_id")
    )

    def cell(pdf):
        import pandas as pd

        mat = np.stack(pdf["vec_d"].to_numpy()).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        n = mat.shape[0]
        # Row-tiled within-cell GEMM: a duplicate-heavy corpus funnels
        # every copy of a distinct vector into ONE cell, so cells grow
        # ~N/C — the r9 1000× probe (2 M vectors) produced a 130 k-row
        # cell whose untiled `mat @ mat.T` tried to allocate 126 GiB.
        # Tile rows so each partial product stays ~64 MiB (step·n·8 B);
        # identical arithmetic, O(n·step) memory, same O(n²/C) work.
        step = max(1, 8_000_000 // max(n, 1))
        hits = np.empty(n, dtype=np.int64)
        for s in range(0, n, step):
            e = min(n, s + step)
            hits[s:e] = (mat[s:e] @ mat.T >= 0.9).sum(axis=1) - 1  # -self
        return pd.DataFrame({"doc_id": pdf["vec_id"], "n_neardup_09": hits})

    return assigned.groupBy("cent_id").applyInPandas(
        cell, schema="doc_id long, n_neardup_09 long"
    )


SUBSTR_W = 12  # duplicated-span granularity: 12-word shingles


@query(
    "dedup_substring",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws
      FROM documents
    ), sh AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(ws[i:i+{SUBSTR_W - 1}], ' ')) AS h
      FROM toks, UNNEST(generate_series(1, len(ws) - {SUBSTR_W - 1})) AS t(i)
      WHERE len(ws) >= {SUBSTR_W}
    ), flagged AS (
      SELECT doc_id, pos,
             MIN(doc_id) OVER (PARTITION BY h) AS d_min,
             MAX(doc_id) OVER (PARTITION BY h) AS d_max
      FROM sh
    ), dup AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY pos) AS island
      FROM flagged WHERE d_min <> d_max
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + {SUBSTR_W - 1} AS BIGINT) AS span_end,
           CAST(MAX(pos) - MIN(pos) + {SUBSTR_W} AS BIGINT) AS span_tokens
    FROM dup
    GROUP BY doc_id, island
    """,
)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-SUBSTRING dedup: the
    training-data curation step none of the whole-doc/LSH keys cover —
    find spans duplicated ACROSS documents, not documents duplicated
    wholesale (the Lee et al. 2022 "Deduplicating Training Data Makes
    Language Models Better" operator class, which uses a suffix array
    single-node; see the scale note below for the distributed
    escalation path). Emits one row per MAXIMAL duplicated span:
    (doc_id, span_start, span_end, span_tokens) in 1-based token
    positions.

    Method — shingle granularity, pure DataFrame ops:
    1. tokenize lower(trim(text)) on spaces; docs shorter than
       SUBSTR_W=12 tokens cannot hold a span and are filtered BEFORE
       the sequence() (which would otherwise run DESCENDING on a
       negative length — a Spark footgun worth naming).
    2. one row per shingle position via
       explode(transform(sequence(..), i -> struct(pos, md5(slice)))):
       all-JVM, no Python, fan-out = tokens-per-doc.
    3. cross-document duplication per shingle WITHOUT a self-join or
       count-distinct: MIN(doc_id) != MAX(doc_id) over the shingle-
       hash partition ("appears in ≥2 distinct docs" exactly, and
       within-doc repeats alone do NOT flag — the cross-document
       contract).
    4. gaps-and-islands merge of flagged positions per doc (pos −
       row_number is constant within a run) → maximal spans, the same
       encoding the CEP runs relation uses.

    Grouping/shuffling on md5(shingle) (16 bytes), never the shingle
    text — the same narrow-shuffle rule dedup_exact documents; a
    128-bit collision across a corpus is negligible (~n²/2¹²⁹), and
    BOTH engines group on the same md5, so the oracle is
    hash-function-identical, not just distributionally equal.

    Fixture calibration (w=12): 1032 duplicated shingles across 500
    docs at sf0.001, merging into cross-doc spans at every SF — the
    planted duplicate texts make this genuinely selective.

    Scale (100 TB): two shuffles — one on the shingle hash (rows =
    total tokens; keys near-unique so combiner-friendly and skew-free
    except for degenerate boilerplate shingles, which are exactly the
    spans we're hunting), one on doc_id for the islands merge (rows =
    only the FLAGGED positions, a tiny fraction). The window-over-hash
    is a streaming aggregate per key group. This shingle-hash method
    is the distributed stand-in for the suffix-array approach: a
    suffix array finds duplicated spans of ANY length >= threshold,
    while shingles quantize to w-token resolution (a duplicated span
    of w+k tokens is found exactly; one of w-1 is missed). The
    escalation path when sub-w resolution matters: distributed suffix
    construction via DC3/prefix-doubling over Spark sorts — O(log n)
    sorted shuffles — or per-partition suffix automata over
    repartitionByRange'd shards; not needed while curation pipelines
    standardly use 50-token windows (w here is 12 to exercise the
    operator on fixture-sized docs).
    """
    prep(spark)
    docs = table(spark, sf_dir, "documents")
    w = SUBSTR_W
    toks = docs.select(
        "doc_id",
        F.split(F.lower(F.trim(F.col("text"))), " ").alias("ws"),
    ).filter(F.size("ws") >= w)
    sh = toks.select(
        "doc_id",
        F.expr(
            f"explode(transform(sequence(1, size(ws) - {w - 1}), "
            f"i -> struct(i AS pos, "
            f"md5(array_join(slice(ws, i, {w}), ' ')) AS h)))"
        ).alias("s"),
    ).select("doc_id", F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))
    w_h = Window.partitionBy("h")
    flagged = sh.select(
        "doc_id",
        "pos",
        (
            F.min("doc_id").over(w_h) != F.max("doc_id").over(w_h)
        ).alias("is_dup"),
    ).filter("is_dup")
    w_d = Window.partitionBy("doc_id").orderBy("pos")
    islands = flagged.select(
        "doc_id",
        "pos",
        (F.col("pos") - F.row_number().over(w_d)).alias("island"),
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + (w - 1)).cast("long").alias("span_end"),
            (F.max("pos") - F.min("pos") + w).cast("long").alias(
                "span_tokens"
            ),
        )
        .drop("island")
    )
