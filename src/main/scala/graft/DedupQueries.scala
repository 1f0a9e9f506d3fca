package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.BoundedOffsetPairs

/** Deduplication suite (SURVEY §2.C) over `documents`.
  *
  * Scale design: every near-dup path generates candidate pairs through
  * an equi-join key (LSH band hash, simhash block, or bounded id
  * offset), never an O(n²) cross join; all hashing is codegen'd
  * built-ins (xxhash64/md5/higher-order array functions) — no UDFs.
  */
object DedupQueries {

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  /** Lowercased word tokens as an array column. */
  private[graft] val tokensCol = expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')")

  // C1 — exact dedup by content hash, keep lowest doc_id.
  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .transform(QueryShape.stagedSort(_, col("keep_id")))

  private val dedupExactSql =
    """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin

  /** MinHash signature: base hash is a modular polynomial over the
    * word-3-shingle's characters; permutation j applies the affine
    * universal-hash transform (p·(2j+1) + 7919j + 13) mod M. 64 perms,
    * banded 8×8, band key = order-independent bit_xor mix — every step
    * is integer arithmetic reproducible in the DuckDB oracle.
    *
    * Shape matters at scale: shingles are EXPLODED to rows, the
    * polynomial is evaluated once per shingle, and the 64 permutations
    * are codegen'd affine transforms reduced by a map-side-combining
    * groupBy(min). (A nested higher-order `transform(sequence(0,63),
    * j -> array_min(...))` computes the same thing but is interpreted,
    * ~50× slower at sf0.1; a 64-column-wide min aggregate generates a
    * pathologically large whole-stage function, ~10× slower cold.)
    *
    * The pipeline runs over an arbitrary (doc_id, text) frame —
    * shared with DedupScaleSpec, which drives it at 10⁶ docs to probe
    * band-bucket skew (the number that decides 100 TB feasibility).
    */
  /** Per-doc 64-permutation minhash SIGNATURE (doc_id, sig) — ONE
    * native pass per row (r10, [[graft.functions.MinhashSigExpr]]):
    * the explode(shingles) × explode(0..63) → groupBy.min shape this
    * replaces pushed |docs|·|shingles|·64 rows through a hash
    * aggregate (~64 M at sf0.1, ~64 G at sf100 — the bulk of the
    * minhash family's time). Same shingle fold, same permutation
    * hash, bit-equal minima (min over the multiset == min over the
    * distinct set). Docs with no tokens are absent, exactly as the
    * exploded shape emitted no rows for them.
    */
  private[graft] def minhashSigFor(docFrame: DataFrame): DataFrame =
    docFrame
      .select(col("doc_id"), org.apache.spark.sql.GraftBridge.column(
        graft.functions.MinhashSigExpr(
          org.apache.spark.sql.GraftBridge.expression(col("text")),
          3, 64)).as("sig"))
      .filter(col("sig").isNotNull)

  private[graft] def minhashBandsFor(docFrame: DataFrame): DataFrame =
    minhashSigFor(docFrame)
      // 8 band hashes per doc, row-locally: XOR-fold of the same
      // (m·131 + j) mod 1e9+7 terms the bit_xor aggregate folded —
      // XOR is order-invariant, so the values are bit-identical
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(0, 7), b -> aggregate(sequence(b*8, b*8+7), 0L,
          | (acc, j) -> acc ^ ((element_at(sig, j+1) * 131 + j) % 1000000007)))"""
          .stripMargin)).as(Seq("band_pos", "band_hash")))
      // `j DIV 8` was a LONG; keep the column type identical
      .select(col("doc_id"), col("band_pos").cast("long").as("band_id"),
        col("band_hash"))

  /** The per-permutation minhash values (doc_id, j, m) the bands fold
    * over — C10 compares them pairwise to estimate Jaccard. Exploded
    * view of the native signature; (doc_id, j, m) rows are bit-equal
    * to the pre-r10 aggregate's.
    */
  private[graft] def minhashValuesFor(docFrame: DataFrame): DataFrame =
    minhashSigFor(docFrame)
      .select(col("doc_id"), posexplode(col("sig")).as(Seq("j", "m")))

  // C2 — MinHash+LSH candidate pairs: same (band_id, band_hash) bucket.
  // Signatures compute over exact-content REPRESENTATIVES (min doc_id
  // per text — C7/C3's r5 collapse applied here too): identical texts
  // share every band, so un-collapsed exact families inflate the
  // bucket self-join quadratically in family size (the sf1 replica
  // probe measured 13× for 10× data; collapsed simhash sat at 1.4× on
  // the same data). Exact families are C1's output; near-dup
  // candidacy is decided once per distinct content.
  private def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame = {
    // r10 decade-4 finding (this key was never sf100-probed before):
    // 794 s under the r9 code at sf100, ~90× its sf10 wall. Diagnosis
    // (one bucket-stats job): the 8-band bucket self-join emits ~1.0G
    // pair OCCURRENCES at sf100 with a hottest bucket of 9311 —
    // identical-signature short-doc families planted by the synthetic
    // resampler collide in every band, so the OUTPUT pair set itself
    // is quadratic in family size and no ≤12× row-scaling is
    // attainable without a result-changing cap. The native signature
    // (minhashSigFor) cut it to 599 s. A C14-style FIRST-COLLISION
    // emission was built and MEASURED here, twice: prefix-array carry
    // (sf10 35.9 s — the per-row transform(slice(...)) lambda), then
    // a native FirstEqualSlotExpr over full bh arrays (sf10 17.0 s,
    // sf0.1 1.30 s) — both LOSE to the plain `.distinct()` at every
    // driver-measured scale (sf0.1 0.99 s, sf10 6.7 s): the 8-long
    // array carry through the 40M-row SMJ sort costs more than the
    // narrow-row distinct exchange saves below decade 4. Kept: the
    // distinct shape; the sf100 tail is output-bound by the planted
    // family structure (documented in OPTIMIZATION_r10.md).
    // persist: the self-join would otherwise recompute the whole
    // signature pipeline for both sides (bands ≈ 8 rows/doc — tiny
    // next to the corpus, and the expensive part is above it)
    val bands = minhashBandsFor(
      docs(s, dir).groupBy(col("text")).agg(min(col("doc_id")).as("doc_id")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = bands.select(col("band_id"), col("band_hash"), col("doc_id").as("id_a"))
    val b = bands.select(col("band_id"), col("band_hash"), col("doc_id").as("id_b"))
    val pairs = a.join(b, Seq("band_id", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
      .transform(QueryShape.stagedSort(_, col("id_a"), col("id_b")))
      // materialize the (small) pair list eagerly so the bands cache can
      // be released NOW instead of leaking one copy per call in a
      // long-lived session (Bench runs every query 4×)
      .localCheckpoint(eager = true)
    bands.unpersist(false)
    pairs
  }

  private val dedupMinhashLshSql =
    """WITH reps AS (
      | SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text
      |), toks AS (
      | SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |   x -> x <> '') AS tk
      | FROM reps
      |), sh AS (
      | SELECT DISTINCT doc_id, shingle FROM (
      |  SELECT doc_id, unnest(list_transform(
      |    generate_series(0, greatest(len(tk) - 3, 0)),
      |    i -> array_to_string(tk[i+1:i+3], ' '))) AS shingle
      |  FROM toks)
      |), ph AS (
      | SELECT doc_id, list_reduce(
      |   list_prepend(7::BIGINT, list_transform(generate_series(1, length(shingle)),
      |     i -> ascii(substring(shingle, i, 1))::BIGINT)),
      |   (acc, c) -> (acc * 31 + c) % 1000000007) AS p
      | FROM sh
      |), hj AS (
      | SELECT doc_id, j, min((p * (2*j+1) + (7919*j+13)) % 1000000007) AS m
      | FROM ph CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) js
      | GROUP BY doc_id, j
      |), bands AS (
      | SELECT doc_id, j // 8 AS band_id, bit_xor((m * 131 + j) % 1000000007) AS band_hash
      | FROM hj GROUP BY doc_id, j // 8
      |)
      |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |FROM bands a JOIN bands b USING (band_id, band_hash)
      |WHERE a.doc_id < b.doc_id
      |ORDER BY id_a, id_b""".stripMargin

  // C10 — MinHash ESTIMATE vs EXACT Jaccard per candidate pair: the
  // in-query quality audit of the C2 tier (est = fraction of the 64
  // permutations agreeing — the unbiased MinHash estimator; exact =
  // true 3-word-shingle Jaccard computed ONLY on the bucketed pairs,
  // never all-pairs). The |est − exact| column is the number that
  // justifies trusting band-bucket candidacy at 100 TB, measured by
  // the engine itself on its own corpus rather than asserted offline.
  // Same representative collapse as C2. Two scale contracts, both
  // added after the r8 sf10 probe measured 24.6× (pairs grew 40.7k →
  // 3.97M for 10× docs — band buckets concentrate statistical twins,
  // max df 110 → 967):
  //  1. BOUNDED pool per band bucket (C3's contract): a pair survives
  //     iff its LOWER id ranks ≤ 256 in some shared bucket — capped
  //     join volume Σ df·min(df,256), oracle-replayed rank.
  //  2. ROW-LOCAL verification: each doc carries its 64-value
  //     signature and distinct-shingle-hash set as ARRAY payloads
  //     (one row per doc, ~1 KB); est is a zip_with match count and
  //     exact is an array_intersect size computed inside the pair
  //     row. The previous shape re-joined every pair against 64
  //     per-permutation rows + exploded shingles — |pairs|×112
  //     shuffled rows (444M at sf10) for math that never needed to
  //     leave the row.
  private def dedupMinhashEst(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    val reps = docs(s, dir).groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
    // r11, measured THREE times before landing (VERDICT r10 ask #1):
    //  - A packed-pool rewrite (per-bucket payload pools + canonical-
    //    band emission, the C5/C3 shape) was BUILT AND REJECTED: it
    //    replicates every doc's ~1.5 KB (sig, ps) payload once per
    //    band (×8) through three materializations (pool window
    //    exchange, pool checkpoint, probe-side SMJ sort) — sf10
    //    regressed 15.1 → 145.5 s on the probe. Payload-in-pool only
    //    pays when the payload is small relative to the fan-out (C5's
    //    280 B vectors); here the pool trick moves MORE bytes than
    //    the attach joins it removes.
    //  - INT-NARROWING the payloads (§2.3 "narrower types": every
    //    sig/ps value is mod 1e9+7 < 2³¹, so the cast is exact) was
    //    ALSO BUILT AND REJECTED: same-day A/B read sf10 median
    //    26.9 s int vs 18.0 s long (3 trials each) and sf100 401.0 vs
    //    250.9 s — the extra projection materializing two fresh
    //    arrays per doc ahead of the persist costs more than the
    //    narrower attach-join sorts save.
    //  - Kept: the narrow-pairs + two-attach-join shape with ONE
    //    row-local pass computing both features (MinhashSigExpr +
    //    WordShingleModHashesExpr — the former array_distinct(ps0)
    //    was a no-op on the expr's sorted-distinct output).
    val feat = reps
      .select(col("doc_id"),
        GraftBridge.column(graft.functions.MinhashSigExpr(
          GraftBridge.expression(col("text")), 3, 64)).as("sig"),
        GraftBridge.column(graft.functions.WordShingleModHashesExpr(
          GraftBridge.expression(col("text")), 3)).as("ps"))
      .filter(col("sig").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = feat
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(0, 7), b -> aggregate(sequence(b*8, b*8+7), 0L,
          | (acc, j) -> acc ^ ((element_at(sig, j+1) * 131 + j) % 1000000007)))"""
          .stripMargin)).as(Seq("band_id", "band_hash")))
    val pool = graft.operators.CappedPool
      .lowest(bands, Seq("band_id", "band_hash"), "doc_id", 256)
      .select(col("band_id"), col("band_hash"), col("doc_id").as("id_a"))
    val pairs = pool
      .join(bands.select(col("band_id"), col("band_hash"), col("doc_id").as("id_b")),
        Seq("band_id", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    // (r10 measured, NOT kept: a shuffle_hash hint on these two
    // attach joins cut sf10 22% by skipping the SMJ sorts, but
    // REGRESSED sf100 376 -> 483 s — the per-partition hash builds of
    // the feature rows spill at decade 4. SMJ's sort is the
    // scale-safe shape here.)
    val out = pairs
      .join(feat.select(col("doc_id").as("id_a"), col("sig").as("sig_a"),
        col("ps").as("ps_a")), Seq("id_a"))
      .join(feat.select(col("doc_id").as("id_b"), col("sig").as("sig_b"),
        col("ps").as("ps_b")), Seq("id_b"))
      .withColumn("est", expr(
        "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) / 64.0"))
      .withColumn("i", size(array_intersect(col("ps_a"), col("ps_b"))).cast("long"))
      .withColumn("na", size(col("ps_a")).cast("long"))
      .withColumn("nb", size(col("ps_b")).cast("long"))
      .select(col("id_a"), col("id_b"),
        (round(col("est"), 4) + lit(0.0)).as("est_jaccard"),
        (round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 4)
          + lit(0.0)).as("exact_jaccard"),
        (round(abs((round(col("est"), 4) + lit(0.0)) -
          (round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 4)
            + lit(0.0))), 4) + lit(0.0)).as("abs_err"))
      .transform(QueryShape.stagedSort(_, col("id_a"), col("id_b")))
      .localCheckpoint(eager = true)
    feat.unpersist(false)
    out
  }

  private val dedupMinhashEstSql =
    """WITH reps AS (
      | SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text
      |), toks AS (
      | SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |   x -> x <> '') AS tk
      | FROM reps
      |), sh AS (
      | SELECT DISTINCT doc_id, shingle FROM (
      |  SELECT doc_id, unnest(list_transform(
      |    generate_series(0, greatest(len(tk) - 3, 0)),
      |    i -> array_to_string(tk[i+1:i+3], ' '))) AS shingle
      |  FROM toks)
      |), ph AS (
      | SELECT doc_id, list_reduce(
      |   list_prepend(7::BIGINT, list_transform(generate_series(1, length(shingle)),
      |     i -> ascii(substring(shingle, i, 1))::BIGINT)),
      |   (acc, c) -> (acc * 31 + c) % 1000000007) AS p
      | FROM sh
      |), hj AS (
      | SELECT doc_id, j, min((p * (2*j+1) + (7919*j+13)) % 1000000007) AS m
      | FROM ph CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) js
      | GROUP BY doc_id, j
      |), bands AS (
      | SELECT doc_id, j // 8 AS band_id, bit_xor((m * 131 + j) % 1000000007) AS band_hash
      | FROM hj GROUP BY doc_id, j // 8
      |), pool AS (
      | SELECT band_id, band_hash, doc_id FROM (
      |  SELECT *, row_number() OVER (PARTITION BY band_id, band_hash
      |    ORDER BY doc_id) AS prn FROM bands)
      | WHERE prn <= 256
      |), pairs AS (
      | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      | FROM pool a JOIN bands b USING (band_id, band_hash)
      | WHERE a.doc_id < b.doc_id
      |), sigs AS (
      | SELECT doc_id, list(m ORDER BY j) AS sig FROM hj GROUP BY doc_id
      |), pd AS (
      | SELECT DISTINCT doc_id, p FROM ph
      |), psets AS (
      | SELECT doc_id, list(p) AS ps, count(*) AS n FROM pd GROUP BY doc_id
      |), scored AS (
      | SELECT pr.id_a, pr.id_b,
      |  list_sum(list_transform(generate_series(1, 64),
      |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 64.0 AS est,
      |  len(list_intersect(pa.ps, pb.ps)) AS i,
      |  pa.n AS na, pb.n AS nb
      | FROM pairs pr
      |  JOIN sigs sa ON sa.doc_id = pr.id_a
      |  JOIN sigs sb ON sb.doc_id = pr.id_b
      |  JOIN psets pa ON pa.doc_id = pr.id_a
      |  JOIN psets pb ON pb.doc_id = pr.id_b)
      |SELECT id_a, id_b,
      | round(est, 4) + 0 AS est_jaccard,
      | round(CAST(i AS DOUBLE) / (na + nb - i), 4) + 0 AS exact_jaccard,
      | round(abs((round(est, 4) + 0) -
      |   (round(CAST(i AS DOUBLE) / (na + nb - i), 4) + 0)), 4) + 0 AS abs_err
      |FROM scored ORDER BY id_a, id_b""".stripMargin

  /** SimHash: sign-aggregated token hashes per doc. The 61-bit token
    * hash combines two modular polynomials (bases 31/37, distinct
    * moduli) so the whole signature is integer arithmetic reproducible
    * in the DuckDB oracle.
    */
  private[graft] def simhashSigs(s: SparkSession, dir: String): DataFrame = {
    // signatures over exact-content REPRESENTATIVES (min doc_id per
    // text) — C7's r5 lesson applied family-wide: the block self-join
    // below is quadratic in duplicate-family size (the sf1 replica
    // probe put the un-collapsed query at 13.8× for 10× data), exact
    // families are C1's output, and a signature computes once per
    // distinct content
    // per-doc signature in ONE native pass (SimhashExpr: same poly
    // pair, bit counters, and sign rule the oracle replays) — the
    // signature is row-local math, so the previous exploded-token
    // frame + 64 sum columns shuffled 12M rows for work that never
    // needed to leave the row. Zero-token docs stay excluded, as the
    // token explode excluded them.
    docs(s, dir)
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .filter(size(tokensCol) >= 1)
      .select(col("doc_id"), org.apache.spark.sql.GraftBridge.column(
        graft.functions.SimhashExpr(
          org.apache.spark.sql.GraftBridge.expression(col("text")))).as("simhash"))
  }

  // C3 — SimHash near-dup pairs. Candidate generation is the Manku
  // multi-piece index (Manku/Jain/Sarma, WWW'07 §3): the 64-bit
  // signature splits into SIX pieces (4×11 + 2×10 bits) and
  // candidates key on ordered piece PAIRS — 15 tables with ~21-bit
  // keys. A pair within hamming distance 3 dirties ≤ 3 pieces,
  // leaving ≥ 3 clean ⇒ ≥ 1 clean PAIR, so recall at d ≤ 3 stays
  // EXACT (pigeonhole) and the output — every pair at hamming ≤ 3 —
  // is identical to the 4×16-bit-block scheme the oracle replays
  // (both candidate filters are complete for d ≤ 3; SimhashBlockSpec
  // pins the equivalence). Why not 4 single blocks: bucket pair
  // volume Σdf² over 16-bit keys is quadratic in the corpus
  // (~n²/2¹⁶ uniform, far worse under real per-language bit
  // correlation) — the r8 sf10 probe measured 52× wall for 10× data.
  // Pair keys SQUARE the per-bucket collision probability instead.
  // The hamming verify also runs BEFORE the distinct now, so the
  // dedup shuffle carries only true near-dup pairs, not every bucket
  // collision.
  private def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    simhashNearDupPairs(simhashSigs(s, dir), cap = 256)
      .transform(QueryShape.stagedSort(_, col("id_a"), col("id_b")))

  /** C3's pair pipeline with the pool cap exposed (production cap =
    * 256; the recall-vs-cap curve at sf1 is in
    * `bench/dedup_cap_probe.json`, so the constant is evidence, not
    * folklore).
    *
    * PIECE LAYOUT (r10, the r9 verdict's documented knob): 5 pieces
    * (4×13 + 1×12 bits) → 10 piece-PAIR tables of ≤ 26-bit keys,
    * replacing the 6-piece/15-table/21-22-bit layout. Same d ≤ 3
    * pigeonhole completeness (≤ 3 flips hit ≤ 3 pieces → ≥ 2 intact
    * pieces → their pair table collides; SimhashBlockSpec proves it
    * exhaustively and that d = 3 is tight — 4 flips across 4 pieces
    * leave no intact pair), but 10/15 the explode volume and ~16-32×
    * sparser keys: the r9 sf100 probe measured the 21-bit keys
    * concentrating statistically-twinned same-language docs (max df
    * 80k at sf10) into cap-transition buckets — wider keys push the
    * cap regime a decade out.
    */
  private[graft] def simhashNearDupPairs(sigs: DataFrame, cap: Int): DataFrame = {
    // piece layout: offsets 0,13,26,39 (13 bits) + 52 (12 bits);
    // the & masks kill the arithmetic-shift sign extension
    val pieces = expr(
      "array(simhash & 8191, shiftright(simhash, 13) & 8191, " +
        "shiftright(simhash, 26) & 8191, shiftright(simhash, 39) & 8191, " +
        "shiftright(simhash, 52) & 4095)")
    val combos = for { p <- 0 until 5; q <- (p + 1) until 5 } yield (p, q)
    val keyed = sigs.withColumn("pieces", pieces)
      .select(col("doc_id"), col("simhash"),
        explode(array(combos.map { case (p, q) =>
          struct(lit(p * 5 + q).as("tbl"),
            (element_at(col("pieces"), p + 1) * lit(8192L) +
              element_at(col("pieces"), q + 1)).as("key"))
        }: _*)).as("pk"))
      .select(col("doc_id"), col("simhash"),
        col("pk.tbl").as("tbl"), col("pk.key").as("key"))
    // A [[graft.operators.CappedPool]] per (tbl, key): the r8 sf10
    // diagnostic measured sum(df^2) = 49G over piece-pair keys on the
    // 500k-doc corpus (statistically-twinned same-language docs
    // concentrate even wide keys: max df 431k at sf100 for 26-bit
    // keys), so the uncapped join is quadratic in practice. Pairs in
    // the capped blind spot are mass near-dup families — C1/C2's
    // regime, the same contract as winnowing's df cap.
    //
    // PACKED: the plain (tbl, key) equi-join materialized ~10G
    // candidate joined rows at sf100, and hot keys serialized into
    // single SMJ key-group tasks (157 s). Packed, each probe row meets
    // one 24 B-per-member pool row map-side, SimhashPoolMatchesExpr runs
    // the xor+popcount loop in-task, and a 431k-row hot key streams
    // instead of straggling one task. Output set == the distinct pool
    // join's (SimhashPackedParitySpec pins it with a binding cap).
    val packed = graft.operators.CappedPool.packed(keyed, "key", "doc_id", cap,
      col("simhash").as("sig"))
    val matches = org.apache.spark.sql.GraftBridge.column(
      graft.functions.SimhashPoolMatchesExpr(
        org.apache.spark.sql.GraftBridge.expression(col("sh_b")),
        org.apache.spark.sql.GraftBridge.expression(col("id_b")),
        org.apache.spark.sql.GraftBridge.expression(col("tbl")),
        org.apache.spark.sql.GraftBridge.expression(col("pool")), 3))
    keyed.select(col("tbl"), col("key"), col("doc_id").as("id_b"),
        col("simhash").as("sh_b"))
      .join(packed, Seq("tbl", "key"))
      .select(col("id_b"), explode(matches).as("m"))
      .select(col("m.id_a").as("id_a"), col("id_b"),
        col("m.hamming").as("hamming"))
  }

  private val dedupSimhashSql = {
    def polySql(mult: Int, mod: Long, init: Long) =
      s"""list_reduce(list_prepend($init::BIGINT,
         |   list_transform(generate_series(1, length(tok)),
         |     i -> ascii(substring(tok, i, 1))::BIGINT)),
         |   (acc, c) -> (acc * $mult + c) % $mod)""".stripMargin
    val bitSums = (0 until 64).map(i =>
      s"CAST(sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS b$i")
      .mkString(",\n ")
    val simhashExpr = (0 until 64).map(i =>
      s"(CASE WHEN b$i > 0 THEN 1::BIGINT << $i ELSE 0::BIGINT END)")
      .mkString(" + ")
    s"""WITH reps AS (
       | SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text
       |), toks AS (
       | SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       |   x -> x <> '')) AS tok
       | FROM reps
       |), th AS (
       | SELECT doc_id, (${polySql(31, 1000000007L, 7)} << 31)
       |   + ${polySql(37, 998244353L, 11)} AS h
       | FROM toks
       |), bits AS (
       | SELECT doc_id, $bitSums
       | FROM th GROUP BY doc_id
       |), sig AS (
       | SELECT doc_id, $simhashExpr AS simhash FROM bits
       |), pieces AS (
       | SELECT doc_id, simhash,
       |  [simhash & 8191, (simhash >> 13) & 8191, (simhash >> 26) & 8191,
       |   (simhash >> 39) & 8191, (simhash >> 52) & 4095] AS p
       | FROM sig
       |), keyed AS (
       | SELECT doc_id, simhash, c.tbl,
       |  p[c.pi + 1] * 8192 + p[c.qi + 1] AS key
       | FROM pieces CROSS JOIN (VALUES (1, 0, 1), (2, 0, 2), (3, 0, 3), (4, 0, 4), (7, 1, 2), (8, 1, 3), (9, 1, 4), (13, 2, 3), (14, 2, 4), (19, 3, 4)) c(tbl, pi, qi)
       |), pool AS (
       | SELECT tbl, key, doc_id, simhash FROM (
       |  SELECT *, row_number() OVER (PARTITION BY tbl, key
       |    ORDER BY doc_id) AS prn FROM keyed)
       | WHERE prn <= 256
       |), cand AS (
       | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |   CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       | FROM pool a JOIN keyed b ON a.tbl = b.tbl AND a.key = b.key
       |  AND a.doc_id < b.doc_id
       |)
       |SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }

  // C4 — exact character-3-gram Jaccard for bounded id-offset pairs
  // (id_b = id_a + off, off ∈ 1..10 — the verification companion to
  // C2's approximate path). Grams are injective base-131 long codes
  // (graft.functions.GramCodeArrayExpr), so Jaccard over codes is
  // exactly Jaccard over the string grams.
  /** Shared skeleton for C4/C8: every pair (id_a, id_b ≤ id_a + 10,
    * both present) with the sorted-merge gram-intersection count and
    * both set sizes, on [[graft.operators.BoundedOffsetPairs]]: one
    * exchange of the gram table, no pair row shuffled. The window is
    * the oracle's `b.doc_id <= a.doc_id + 10`.
    */
  private[graft] def boundedOffsetIntersects(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import s.implicits._
    val gramCodes = GraftBridge.column(
      graft.functions.GramCodeArrayExpr(GraftBridge.expression(col("text")), 3))
    BoundedOffsetPairs[Array[Long], (Long, Long, Long, Int, Int)](
        docs(s, dir).select(col("doc_id"), gramCodes.as("g")), 10) {
      _.map { case (idA, gA, idB, gB) =>
        (idA, idB, BoundedOffsetPairs.intersectCount(gA, gB), gA.length, gB.length)
      }
    }.toDF("id_a", "id_b", "inter", "na", "nb")
  }

  private[graft] def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    boundedOffsetIntersects(s, dir)
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 4).as("jaccard"))
      .transform(QueryShape.stagedSort(_, col("id_a"), col("id_b")))

  // C8 — CONTAINMENT near-dup (asymmetric overlap): |A∩B| / |A| —
  // what Jaccard misses. A short doc quoted whole inside a long one
  // scores near 1.0 on containment but low on Jaccard (the union is
  // dominated by the long doc), so quote/subset relationships need
  // this measure. Same bounded-offset narrow skeleton + injective
  // gram codes + codegen'd sorted-merge intersect as C4; emits both
  // directions' containments per pair.
  private def dedupContainment(s: SparkSession, dir: String): DataFrame =
    boundedOffsetIntersects(s, dir)
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / col("na"), 4).as("cont_a_in_b"),
        round(col("inter").cast("double") / col("nb"), 4).as("cont_b_in_a"))
      .filter(col("cont_a_in_b") >= 0.5 || col("cont_b_in_a") >= 0.5)
      .transform(QueryShape.stagedSort(_, col("id_a"), col("id_b")))

  private val dedupContainmentSql =
    """WITH g AS (
      | SELECT doc_id, list_sort(list_distinct(list_transform(
      |   generate_series(1, greatest(length(text) - 2, 1)),
      |   i -> ascii(substring(text, i, 1)) * 17161
      |      + ascii(substring(text, i + 1, 1)) * 131
      |      + ascii(substring(text, i + 2, 1))))) AS gr
      | FROM documents),
      |p AS (
      | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |   len(list_intersect(a.gr, b.gr)) AS inter,
      |   len(a.gr) AS na, len(b.gr) AS nb
      | FROM g a JOIN g b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 10)
      |SELECT id_a, id_b,
      | round(CAST(inter AS DOUBLE) / na, 4) AS cont_a_in_b,
      | round(CAST(inter AS DOUBLE) / nb, 4) AS cont_b_in_a
      |FROM p
      |WHERE round(CAST(inter AS DOUBLE) / na, 4) >= 0.5
      |   OR round(CAST(inter AS DOUBLE) / nb, 4) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  private val dedupNgramJaccardSql =
    """WITH g AS (
      | SELECT doc_id, list_distinct(list_transform(
      |   generate_series(1, greatest(length(text) - 2, 1)),
      |   i -> ascii(substring(text, i, 1)) * 17161
      |      + ascii(substring(text, i + 1, 1)) * 131
      |      + ascii(substring(text, i + 2, 1)))) AS gr
      | FROM documents
      |)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      | round(CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE) /
      |       len(list_distinct(list_concat(a.gr, b.gr))), 4) AS jaccard
      |FROM g a JOIN g b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 10
      |ORDER BY id_a, id_b""".stripMargin

  // C5 — corpus-wide embedding near-dup: multi-table random-hyperplane
  // sign LSH (8 tables × adaptive bits, SQL-portable integer-hash
  // planes) generates candidates as an equi-join on (table, bucket) —
  // no all-pairs product — then exact cosine verifies. The synthetic
  // corpus has no true near-dups (max cosine ≈ 0.51), so the verify
  // threshold is 0.3 to exercise the full pipeline end-to-end; the
  // planted-pair recall proof (cos ≥ 0.99 pairs at arbitrary id
  // distance) lives in LshRecallSpec.
  private def dedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    // identical vectors collapse to a min-id representative first (the
    // C2/C3 exact-family collapse in embedding space): exact-dup
    // vectors share every LSH bucket, so un-collapsed families grow
    // the bucket self-join quadratically (13.6× at the sf1 replica
    // probe); near-dup candidacy is decided once per distinct vector
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .groupBy(col("v")).agg(min(col("vec_id")).as("vec_id"))
      .select(col("vec_id"), col("v"))
    // OCCUPANCY-TARGETED bits (the knn_graph r8 prescription, applied
    // here after the r9 sf100 probe measured this key as the board's
    // worst scaler at 11.3×/251 s): fixed bits=8 left expected bucket
    // occupancy n/256 ≈ 7800 at the 2M-vector decade, so the capped
    // pool×bucket join evaluated ~4G candidate cosines; adaptive bits
    // pins occupancy ≤ 32 and candidate volume to Θ(n·tables·occ).
    // 8 tables hold the near-dup recall contract: at cos ≥ 0.99
    // (θ ≤ 0.029π, per-bit agree 0.971) a 16-bit table collides with
    // p ≈ 0.63 and any-of-8 with p ≈ 0.9997. The raw count (not the
    // collapsed one) drives the knob on both engines — a size hint,
    // not a semantic input, one cheap columnar count.
    val n = Tables.load(s, dir, "embeddings").count()
    val bits = graft.operators.RandomHyperplaneLsh.adaptiveBits(n)
    // bucketCap=256 bounds per-bucket pair volume (the r8 sf10 probe
    // OOM'd the uncapped bucket self-join on the 2M-vector corpus
    // where jitter families co-bucket); the pool rank is oracle-
    // mirrored below and never binds at test SFs
    graft.operators.RandomHyperplaneLsh
      .nearDupPairs(e, "vec_id", "v", threshold = 0.3, tables = 8,
        bits = bits, dim = 64, bucketCap = 256)
  }

  private val dedupEmbeddingSql =
    """WITH e AS (SELECT min(vec_id) AS vec_id, v FROM (
      |       SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
      |     GROUP BY v),
      |bt AS (SELECT min(b) AS bits
      |       FROM (SELECT unnest(generate_series(8, 24)) AS b) bs
      |       WHERE (CAST(32 AS BIGINT) << b) >= (SELECT count(*) FROM embeddings)),
      |pl AS (SELECT p, list_transform(generate_series(0, 63), d ->
      |        CAST(((1103*(p*64+d)+12289) % 8191) - 4095 AS DOUBLE)) AS w
      |       FROM (SELECT unnest(generate_series(0,
      |         8 * (SELECT bits FROM bt) - 1)) AS p) ps),
      |bk AS (SELECT e.vec_id, p // (SELECT bits FROM bt) AS tbl,
      |        sum(CASE WHEN list_dot_product(v, w) >= 0
      |            THEN CAST(1 AS BIGINT) << (p % (SELECT bits FROM bt))
      |            ELSE 0 END) AS bucket
      |       FROM e CROSS JOIN pl GROUP BY e.vec_id, p // (SELECT bits FROM bt)),
      |pool AS (SELECT tbl, bucket, vec_id FROM (
      |          SELECT tbl, bucket, vec_id,
      |           row_number() OVER (PARTITION BY tbl, bucket ORDER BY vec_id)
      |            AS prn FROM bk)
      |         WHERE prn <= 256),
      |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      |         FROM pool a JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket
      |          AND a.vec_id < b.vec_id),
      |sim AS (SELECT id_a, id_b,
      |         round(list_dot_product(x.v, y.v) /
      |          (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 4) + 0 AS cos_sim
      |        FROM cand JOIN e x ON x.vec_id = id_a JOIN e y ON y.vec_id = id_b)
      |SELECT id_a, id_b, cos_sim FROM sim WHERE cos_sim >= 0.3
      |ORDER BY id_a, id_b""".stripMargin

  // C6 — duplicate-cluster assignment: connected components over the
  // near-dup pair graph (jaccard ≥ 0.7), cluster id = min doc_id in the
  // component. Distributed min-label propagation to fixpoint — the
  // Pregel-shaped pattern that scales (each iteration is one
  // equi-join + groupBy min; state checkpointed to cut lineage).
  //
  // Iteration hygiene (r2): the convergence count is folded into the
  // checkpoint-materializing pass via a LongAccumulator (no separate
  // count() job — task retries can only overcount, which at worst
  // costs one extra no-op iteration); checkpoints are RELIABLE
  // (survive executor loss on a real cluster, unlike localCheckpoint's
  // executor-local blocks); each iteration's cache and the previous
  // iteration's checkpoint reference are released as soon as the next
  // one materializes.
  /** One label-propagation round: neighbor-min then pointer-jumping
    * (label := label of label, collapsing chains in O(log diameter)
    * rounds). Returns the next labels plan plus an [[Observation]]
    * whose `changed` metric counts moved labels — filled by whatever
    * action materializes the plan, so convergence costs zero extra
    * jobs and the whole round stays codegen'd (no typed map).
    */
  private[graft] def ccStep(edges: DataFrame, labels: DataFrame):
      (DataFrame, org.apache.spark.sql.Observation) = {
    val neighborMin = edges
      .join(labels, col("dst") === col("doc_id"))
      .groupBy(col("src")).agg(min(col("cluster_id")).as("nmin"))
    val stepped = labels
      .join(neighborMin, col("doc_id") === col("src"), "left")
      .select(col("doc_id"), col("cluster_id").as("old"),
        least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id"))).as("mid"))
    val byId = labels.select(col("doc_id").as("p_id"), col("cluster_id").as("p_lab"))
    val obs = org.apache.spark.sql.Observation(
      s"graft_cc_${java.util.UUID.randomUUID().toString.take(8)}")
    val next = stepped.join(byId, col("mid") === col("p_id"))
      .select(col("doc_id"), col("old"), least(col("mid"), col("p_lab")).as("cluster_id"))
      .observe(obs, sum(when(col("cluster_id") =!= col("old"), 1L)
        .otherwise(0L)).as("changed"))
      .select(col("doc_id"), col("cluster_id"))
    (next, obs)
  }

  private def dedupCluster(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sc = s.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(
        s"${System.getProperty("java.io.tmpdir")}/graft-checkpoints")
    // pairs feeds both branches of the edge union — persist so the
    // jaccard pipeline runs once, released as soon as edges' cache
    // fills (during the initial labels checkpoint below)
    val pairs = dedupNgramJaccard(s, dir)
      .filter(col("jaccard") >= 0.7)
      .select(col("id_a"), col("id_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // iterate only over edge-touched nodes (the overwhelmingly common
    // singleton docs need no propagation and union in at the end)
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
      .checkpoint(eager = true)
    pairs.unpersist(false)
    var changed = 1L
    while (changed > 0) {
      val (nextPlan, obs) = ccStep(edges, labels)
      val next = nextPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // one pass computes + caches and fills the observed convergence
      // metric (declarative, stays inside whole-stage codegen — no
      // typed map, no DeserializeToObject, no extra count() job); the
      // checkpoint write job replays from cache
      val chk = next.checkpoint(eager = true)
      changed = Option(obs.get("changed")).map(_.asInstanceOf[Long]).getOrElse(0L)
      next.unpersist(false)
      labels.unpersist(false)
      labels = chk
    }
    edges.unpersist(false)
    docs(s, dir).select(col("doc_id"))
      .join(labels.withColumnRenamed("cluster_id", "lab"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lab"), col("doc_id")).as("cluster_id"))
      .transform(QueryShape.stagedSort(_, col("doc_id")))
  }

  private val dedupClusterSql =
    """WITH RECURSIVE g AS (
      | SELECT doc_id, list_distinct(list_transform(
      |   generate_series(1, greatest(length(text) - 2, 1)),
      |   i -> ascii(substring(text, i, 1)) * 17161
      |      + ascii(substring(text, i + 1, 1)) * 131
      |      + ascii(substring(text, i + 2, 1)))) AS gr
      | FROM documents
      |), p AS (
      | SELECT a.doc_id AS id_a, b.doc_id AS id_b
      | FROM g a JOIN g b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 10
      | WHERE CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE) /
      |       len(list_distinct(list_concat(a.gr, b.gr))) >= 0.7
      |), e AS (
      | SELECT id_a AS src, id_b AS dst FROM p
      | UNION ALL SELECT id_b, id_a FROM p
      |), reach(node, lab) AS (
      | SELECT doc_id, doc_id FROM documents
      | UNION
      | SELECT e.dst, reach.lab FROM reach JOIN e ON reach.node = e.src
      |)
      |SELECT node AS doc_id, min(lab) AS cluster_id
      |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin

  // C7 — winnowing-fingerprint near-dup (Schleimer/Wilkerson/Aiken
  // 2003, the MOSS selection): each doc keeps only the window-min of
  // every 4 consecutive 8-gram codes (~2/(w+1) of grams, guarantee:
  // any shared run of win+w-1 = 11 chars shares a fingerprint), so
  // the inverted-index self-join sees a CONSTANT FRACTION of the
  // gram stream — the selection step is what scales this vs raw
  // n-gram joins. Fingerprinting is a native codegen'd O(text)
  // expression (monotonic deque); hyper-common fingerprints are
  // stop-listed before the join, J2-style.
  private def dedupWinnowing(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    // Near-dup runs on CONTENT REPRESENTATIVES (min doc_id per exact
    // text): exact families are C1's job, and they are the degenerate
    // case of the fp self-join below — candidate pairs grow with the
    // SQUARE of family size, so a corpus where every doc has ten exact
    // clones pays 100× the join (measured: the sf1 replica probe put
    // the un-collapsed query at 184× for 10× data; collapsed it is the
    // near-linear fp-bucket join again). Collapsing first is also the
    // 100 TB pipeline order — fingerprints compute once per distinct
    // content, not once per copy.
    val reps = docs(s, dir).groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
    val fpCol = GraftBridge.column(graft.functions.WinnowFingerprintExpr(
      GraftBridge.expression(lower(col("text"))), 8, 4))
    val fps = reps.select(col("doc_id"), explode(fpCol).as("fp"))
    val nDocs = reps.select(count(lit(1)).as("n"))
    // Stop-list guard is BOTH relative and absolute. Relative alone
    // (df ≤ n/20) lets per-fp join fan-out GROW with the corpus: the
    // self-join pays Σ df², and under a Zipfian fp distribution the
    // mass between the old threshold and any constant is superlinear —
    // the r8 sf1 probe measured 22× for 10× docs. An absolute df cap
    // is the MOSS-style index bound: a fingerprint seen in > maxDf
    // distinct contents is template/boilerplate signal, not a dup
    // family (real near-dup pairs share ≥ 10 RARE fps). Trade-off: a
    // near-dup family larger than maxDf is dropped here — that regime
    // belongs to C1 exact collapse + C2 MinHash banding. maxDf doesn't
    // bind below n = 5120 docs, so small-SF oracles are unchanged.
    // (The pairs-vs-maxDf curve at sf1 is in bench/dedup_cap_probe.json.)
    val maxDf = 256
    val rare = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * 20 <= col("n") && col("df") <= maxDf)
      .select(col("fp"))
    val filtered = fps.join(rare, Seq("fp"))
    filtered.as("a").join(filtered.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= 10) // bimodal at sf0.01: real dups >= 10, template noise <= 8
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val dedupWinnowingSql = {
    val terms = (0 until 8).map { j =>
      val pow = (0 until (7 - j)).foldLeft(1L)((a, _) => a * 131L)
      s"CAST(CASE WHEN i + $j <= length(t) THEN ord(substring(t, i + $j, 1)) ELSE 0 END AS BIGINT) * CAST($pow AS BIGINT)"
    }.mkString(" + ")
    s"""WITH d AS (SELECT min(doc_id) AS doc_id, lower(text) AS t
       |           FROM documents GROUP BY text),
       |g AS (SELECT doc_id, list_transform(
       |        generate_series(1, greatest(length(t) - 7, 1)),
       |        i -> $terms) AS codes FROM d),
       |f AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |        generate_series(1, greatest(len(codes) - 3, 1)),
       |        i -> list_min(codes[i:i+3])))) AS fp FROM g),
       |rare AS (SELECT fp FROM f GROUP BY fp
       |         HAVING count(*) * 20 <= (SELECT count(*) FROM d)
       |            AND count(*) <= 256),
       |ff AS (SELECT doc_id, fp FROM f JOIN rare USING (fp))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
       |FROM ff a JOIN ff b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 10
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // C9 — corpus-level duplicated n-gram MASS per document (the
  // C4/Dolma duplicate-text accounting that complements pairwise
  // near-dup detection): a word-5-gram is "corpus-duplicated" when it
  // occurs in ≥ 2 distinct documents; each doc reports the fraction
  // of its gram POSITIONS covered by such grams plus a keep flag.
  // Shape at 100 TB: explode grams once, hash-aggregate by gram for
  // the distinct-doc count (shuffle key = gram — never all-pairs),
  // equi-join the dup set back, re-aggregate by doc. Fractions are
  // exact-integer ratios; short docs (< 5 tokens) pin to 0.0 rather
  // than divide by zero.
  /** The C9 gram-accounting core over an arbitrary (doc_id, text)
    * frame — shared with CurateScaleSpec, which drives it at 10⁶ docs
    * to probe gram-key skew and the dup-set size (the numbers that
    * decide whether the join-back broadcasts at 100 TB). Returns one
    * row per doc that HAS grams: (doc_id, n_grams, n_dup).
    */
  private[graft] def corpusNgramStatsFor(docFrame: DataFrame): DataFrame = {
    // positional word-5-gram codes in one native pass (FNV-64
    // identity; counts over codes equal counts over gram strings up
    // to ~2⁻⁶⁴ collisions — the outputs are counts only, and the
    // string oracle stays the proof). WordGramHashesExpr emits
    // windows only when ntok >= 5, matching the if() guard replaced.
    val grams = docFrame
      .select(col("doc_id"), explode(org.apache.spark.sql.GraftBridge.column(
        graft.functions.WordGramHashesExpr(
          org.apache.spark.sql.GraftBridge.expression(col("text")), 5,
          distinct = false))).as("gram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dupGrams = grams.select(col("doc_id"), col("gram")).distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2L)
      .select(col("gram"), lit(1L).as("dup"))
    val perDoc = grams.join(dupGrams, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), sum(coalesce(col("dup"), lit(0L))).as("n_dup"))
      .localCheckpoint(eager = true)
    grams.unpersist(false)
    perDoc
  }

  private def dedupCorpusNgram(s: SparkSession, dir: String): DataFrame = {
    val perDoc = corpusNgramStatsFor(docs(s, dir))
    val out = docs(s, dir).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("dup_frac", when(col("n_grams") <= 0L, lit(0.0))
        .otherwise(round(col("n_dup") / col("n_grams"), 4) + lit(0.0)))
      .withColumn("keep", col("dup_frac") <= 0.8)
      .orderBy(col("doc_id"))
    out
  }

  private val dedupCorpusNgramSql =
    """WITH t AS (
      | SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |   x -> x <> '') AS toks
      | FROM documents),
      |g AS (
      | SELECT doc_id, unnest(CASE WHEN len(toks) >= 5
      |   THEN list_transform(range(1, len(toks) - 3),
      |          i -> array_to_string(toks[i:i+4], ' '))
      |   ELSE [] END) AS gram FROM t),
      |dg AS (
      | SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
      | GROUP BY gram HAVING count(*) >= 2),
      |pd AS (
      | SELECT g.doc_id, count(*) AS n_grams,
      |   CAST(sum(CASE WHEN dg.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
      | FROM g LEFT JOIN dg ON g.gram = dg.gram GROUP BY g.doc_id),
      |scored AS (
      | SELECT d.doc_id, coalesce(pd.n_grams, 0) AS n_grams,
      |   coalesce(pd.n_dup, 0) AS n_dup,
      |   CASE WHEN coalesce(pd.n_grams, 0) <= 0 THEN 0.0
      |        ELSE round(pd.n_dup / pd.n_grams, 4) + 0 END AS dup_frac
      | FROM documents d LEFT JOIN pd USING (doc_id))
      |SELECT doc_id, n_grams, n_dup, dup_frac, (dup_frac <= 0.8) AS keep
      |FROM scored ORDER BY doc_id""".stripMargin

  // C11 — EXACT similarity join via PREFIX FILTERING (the
  // AllPairs/SSJoin/PPJoin family — Chaudhuri et al. ICDE'06, Xiao et
  // al. WWW'08): the deterministic complement to C2's MinHash-LSH.
  // LSH completeness is probabilistic (a true pair can miss every
  // band); the prefix filter's is ALGEBRAIC: order each doc's distinct
  // 3-gram codes by global document frequency (rarest first — ties by
  // code) and keep only the first n − ⌈t·n⌉ + 1 as its "prefix"; any
  // pair with Jaccard ≥ t and compatible sizes (t·max ≤ min, itself
  // implied by the threshold) MUST share a prefix gram, so the
  // candidate set from the prefix equi-join provably contains every
  // true pair. Candidate volume ∝ Σ df² over RARE grams — the join
  // key is the rarest content, never the corpus². Verification is
  // C4's codegen'd sorted-merge intersect on a narrow pair skeleton.
  // The threshold test is pure integers (10·inter ≥ 7·union — exact
  // arithmetic, no float boundary), and the ORACLE is the brute-force
  // all-pairs join, so a green row literally proves the prefix filter
  // dropped no true pair. Exact-content families collapse to min-id
  // representatives first (C2/C3's trick — identical texts would
  // inflate every prefix bucket quadratically for pairs C1 already
  // owns).
  // Set elements are WORD-5-GRAM strings (C9's gram construction, the
  // Dolma/C4 span unit), not char-3-grams: the synthetic corpus draws
  // from a ~30-word vocabulary, so char-grams are all common and the
  // "rare-first" prefix degenerates (measured 225M candidate
  // comparisons at sf0.1); word-5-grams span 5 vocabulary draws, so
  // df concentrates on true near-dup families (same measurement: 85k
  // comparisons, max bucket 4 — a 2600× drop from picking the right
  // set element, which IS the prefix-filter design decision).
  private def dedupPrefixFilter(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Representative collapse keyed by md5(text), NOT raw text (C1's
    // digest trick): the groupBy shuffle moves 16-byte keys, and the
    // full text crosses the wire once as a VALUE in the doc_id-keyed
    // rejoin instead of as a sort/hash GROUP KEY.
    val repIds = docs(s, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val rep = docs(s, dir).join(repIds, Seq("doc_id"))
      .select(col("doc_id"), col("text"))
    // The whole pipeline rides 64-bit GRAM CODES, never gram strings:
    // WordGramHashesExpr emits each doc's sorted distinct word-5-gram
    // hashes in ONE compiled byte pass (the interpreted HOF chain —
    // split + transform + slice/concat + sort/distinct, ~9M string
    // allocations — was 45.9 s of this query's 55 s at sf1), and
    // every downstream shuffle (df agg, per-doc prefix rank, prefix
    // self-join, verification intersect) moves 8-byte longs. The
    // prefix-filter guarantee needs only a CONSISTENT GLOBAL TOTAL
    // ORDER on gram identities — (df, code) is one just as
    // (df, gram-string) was. Set counts over codes equal the
    // string-set counts up to 64-bit collisions (~n²/2⁶⁴ ≈ 0 per
    // doc pair); the brute-force STRING oracle remains the
    // end-to-end completeness proof at the gate SFs.
    val grams = rep
      .select(col("doc_id"), org.apache.spark.sql.GraftBridge.column(
        graft.functions.WordGramHashesExpr(
          org.apache.spark.sql.GraftBridge.expression(col("text")), 5)).as("g"))
      .filter(size(col("g")) >= 1)
      .withColumn("n", size(col("g")).cast("long"))
      // pin: the gram build feeds THREE consumers (the prefix stream
      // and both verification sides) — unpinned it re-runs per consumer
      .localCheckpoint(true)
    val tk = grams.select(col("doc_id"), col("n"), explode(col("g")).as("gram"))
    val freq = tk.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("gram"))
    val prefix = tk.join(freq, "gram")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("n") - expr("(7 * n + 9) DIV 10") + 1)
    val pa = prefix.select(col("gram"), col("doc_id").as("id_a"), col("n").as("na"))
    val pb = prefix.select(col("gram"), col("doc_id").as("id_b"), col("n").as("nb"))
    val cand = pa.join(pb, "gram")
      .filter(col("id_a") < col("id_b") &&
        lit(10L) * least(col("na"), col("nb")) >=
          lit(7L) * greatest(col("na"), col("nb")))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(grams.select(col("doc_id").as("id_a"), col("g").as("ga")), Seq("id_a"))
      .join(grams.select(col("doc_id").as("id_b"), col("g").as("gb")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))).cast("long"))
      .withColumn("un",
        (size(col("ga")) + size(col("gb"))).cast("long") - col("inter"))
      .filter(col("inter") * 10L >= col("un") * 7L)
      .select(col("id_a"), col("id_b"), col("inter"), col("un"),
        (round(col("inter").cast("double") / col("un"), 4) + lit(0.0))
          .as("jaccard"))
      .transform(QueryShape.stagedSort(_, col("id_a"), col("id_b")))
  }

  // Oracle = BRUTE FORCE all-pairs over the collapsed representatives:
  // equality with the Spark result proves prefix-filter completeness,
  // not just agreement on a shared candidate set.
  private val dedupPrefixFilterSql =
    """WITH rep AS (SELECT text, min(doc_id) AS doc_id
      |             FROM documents GROUP BY text),
      |t AS (SELECT doc_id, list_filter(
      |        string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      |      FROM rep),
      |g AS (SELECT doc_id, list_sort(list_distinct(CASE WHEN len(toks) >= 5
      |        THEN list_transform(range(1, len(toks) - 3),
      |               i -> array_to_string(toks[i:i+4], ' '))
      |        ELSE [] END)) AS gr
      |      FROM t),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |   CAST(len(list_intersect(a.gr, b.gr)) AS BIGINT) AS inter,
      |   CAST(len(a.gr) AS BIGINT) AS na, CAST(len(b.gr) AS BIGINT) AS nb
      | FROM g a JOIN g b ON b.doc_id > a.doc_id
      |   AND len(a.gr) >= 1 AND len(b.gr) >= 1)
      |SELECT id_a, id_b, inter, na + nb - inter AS un,
      | round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) + 0 AS jaccard
      |FROM p WHERE inter * 10 >= (na + nb - inter) * 7
      |ORDER BY id_a, id_b""".stripMargin

  // C12 — LINE-level exact dedup (the CCNet hygiene pass: drop every
  // paragraph whose exact normalized text appears in 2+ DOCUMENTS —
  // boilerplate headers/footers/navigation — before any document-level
  // near-dup runs; CommonCrawl curation does this first because shared
  // boilerplate both wastes tokens and inflates document similarity).
  // The corpus has no newlines, so the deterministic segmentation unit
  // is consecutive 10-word chunks — the operator's shape is
  // segmentation-agnostic. Keyed by md5 of the chunk text (CCNet
  // hashes paragraphs for exactly this reason: the shuffle then moves
  // fixed-width digests, not content — at 100 TB the line text never
  // leaves its scan except inside the digest). Shape: one explode
  // O(text) → two hash aggs on the digest (count distinct docs, then
  // annotate) → per-source report. Within-doc repeats don't drop
  // (n_docs counts DISTINCT docs), matching CCNet's cross-document
  // contract.
  private def dedupLines(s: SparkSession, dir: String): DataFrame = {
    val lines = docs(s, dir)
      .select(col("doc_id"), col("source"), expr(
        "filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')").as("ws"))
      .select(col("doc_id"), col("source"), explode(expr(
        """CASE WHEN size(ws) >= 1 THEN
          |  transform(sequence(0, CAST(ceil(size(ws) / 10.0) AS INT) - 1),
          |    i -> array_join(slice(ws, i * 10 + 1, 10), ' '))
          |ELSE array() END""".stripMargin)).as("line"))
      .withColumn("lh", md5(col("line")))
    val freq = lines.groupBy(col("lh"))
      .agg(countDistinct(col("doc_id")).as("n_docs_line"))
    lines.join(freq, Seq("lh"))
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_lines"),
        sum(when(col("n_docs_line") >= 2L, 1L).otherwise(0L)).as("n_dropped"),
        countDistinct(when(col("n_docs_line") >= 2L, col("doc_id"))).as("n_docs_hit"))
      .withColumn("drop_rate",
        round(col("n_dropped").cast("double") / col("n_lines"), 4) + lit(0.0))
      .orderBy(col("source"))
  }

  private val dedupLinesSql =
    """WITH w AS (
      | SELECT doc_id, source,
      |   list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |     x -> x <> '') AS ws
      | FROM documents),
      |l AS (
      | SELECT doc_id, source, md5(unnest(CASE WHEN len(ws) >= 1 THEN
      |     list_transform(generate_series(0, CAST(ceil(len(ws) / 10.0) AS INT) - 1),
      |       i -> array_to_string(ws[i * 10 + 1 : i * 10 + 10], ' '))
      |   ELSE [] END)) AS lh
      | FROM w),
      |f AS (SELECT lh, count(DISTINCT doc_id) AS n_docs_line FROM l GROUP BY lh),
      |j AS (SELECT l.doc_id, l.source, f.n_docs_line FROM l JOIN f USING (lh))
      |SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      | count(*) AS n_lines,
      | CAST(sum(CASE WHEN n_docs_line >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_dropped,
      | CAST(count(DISTINCT CASE WHEN n_docs_line >= 2 THEN doc_id END) AS BIGINT)
      |   AS n_docs_hit,
      | round(CAST(sum(CASE WHEN n_docs_line >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
      |   / count(*), 4) + 0 AS drop_rate
      |FROM j GROUP BY source ORDER BY source""".stripMargin

  // C13 — EXACT duplicated-SUBSTRING spans (the ExactSubstr pass of
  // Lee et al. 2021, "Deduplicating Training Data Makes Language
  // Models Better": remove every substring of >= L tokens that occurs
  // twice anywhere in the corpus). The paper builds a corpus-wide
  // suffix array; that is a single-machine shape. The Spark-shaped
  // equivalence this operator exploits is ALGEBRAIC, not approximate:
  // a token span of length >= L is duplicated iff every L-token
  // window inside it is duplicated, so (1) posexplode each doc's
  // L-token windows with their start positions, (2) one hash agg over
  // the window DIGEST finds every window occurring >= 2 times in the
  // corpus (within-doc repeats count, exactly as a suffix array
  // would), (3) join positions back on the digest, (4) per doc, the
  // union of the surviving [p, p+L-1] intervals is the exact
  // duplicated-span mask — computed by gaps-and-islands over a
  // per-doc window sort (fixed interval length makes ends monotone:
  // a new island starts iff p - lag(p) > L, and each island covers
  // max(p) - min(p) + L tokens with provably no internal hole).
  // Scale: the only wide exchanges are keyed by an 8-byte window code
  // (raw text never rides a shuffle), counts/positions are longs, and
  // the island merge is a per-doc local sort — work is linear in
  // corpus windows, never pairwise. At 100 TB the duplicated-digest
  // set is itself large, so the join back stays a shuffle join (no
  // broadcast assumption); a bloom pre-filter on the digest would cut
  // the exchange further and composes with I3's infrastructure.
  private val SubstrL = 8

  /** The C13 core on an arbitrary (doc_id, text) frame: per-doc exact
    * duplicated-token mass for spans of >= L tokens. Shared with
    * SubstringScaleSpec so the probe drives the exact shipped shape.
    */
  private[graft] def substringSpansFor(d: DataFrame, L: Int = SubstrL): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = d
      .select(col("doc_id"), col("text"), tokensCol.as("toks"))
      .select(col("doc_id"), col("text"),
        size(col("toks")).cast("long").as("n_tokens"))
    // window digest = positional FNV-64 over the window bytes
    // (WordGramHashesExpr distinct=false), one compiled pass per doc —
    // the interpreted per-window slice+concat_ws+md5 lambda was the
    // bulk of C13's sf1 cost. Same dup/not-dup decisions as the
    // oracle's md5 strings w.h.p. (equal windows ⇒ equal codes;
    // distinct windows collide at ~2⁻⁶⁴ — the C11 identity argument).
    val wins = toks.filter(col("n_tokens") >= L)
      .select(col("doc_id"), posexplode(org.apache.spark.sql.GraftBridge.column(
        graft.functions.WordGramHashesExpr(
          org.apache.spark.sql.GraftBridge.expression(col("text")), L,
          distinct = false))))
      .select(col("doc_id"), (col("pos") + 1L).cast("long").as("p"), col("col").as("h"))
    val dup = wins.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2L).select(col("h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val perDoc = wins.join(dup, Seq("h"))
      .select(col("doc_id"), col("p"))
      .withColumn("lagp", lag(col("p"), 1).over(w))
      .withColumn("newi",
        when(col("lagp").isNull || col("p") - col("lagp") > L, 1L).otherwise(0L))
      .withColumn("island", sum(col("newi")).over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg((max(col("p")) - min(col("p")) + L).as("covered"))
      .groupBy(col("doc_id"))
      .agg(sum(col("covered")).as("dup_tokens"))
    toks.select(col("doc_id"), col("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
  }

  private def dedupSubstring(s: SparkSession, dir: String): DataFrame = {
    substringSpansFor(docs(s, dir))
      .withColumn("dup_frac", when(col("n_tokens") <= 0L, lit(0.0))
        .otherwise(round(col("dup_tokens").cast("double") / col("n_tokens"), 4) + lit(0.0)))
      .withColumn("keep", col("dup_frac") <= lit(0.5))
      .transform(QueryShape.stagedSort(_, col("doc_id")))
  }

  private val dedupSubstringSql =
    """WITH t AS (
      | SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |   x -> x <> '') AS toks
      | FROM documents),
      |base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks FROM t),
      |wnd AS (
      | SELECT doc_id, unnest(CASE WHEN len(toks) >= 8
      |   THEN list_transform(range(1, len(toks) - 6),
      |          i -> struct_pack(p := i, h := md5(array_to_string(toks[i:i+7], ' '))))
      |   ELSE [] END) AS s
      | FROM base),
      |pos AS (SELECT doc_id, CAST(s.p AS BIGINT) AS p, s.h AS h FROM wnd),
      |dup AS (SELECT h FROM pos GROUP BY h HAVING count(*) >= 2),
      |dp AS (SELECT doc_id, p FROM pos JOIN dup USING (h)),
      |isl AS (
      | SELECT doc_id, p,
      |   CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
      |          OR p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > 8
      |        THEN 1 ELSE 0 END AS newi
      | FROM dp),
      |isl2 AS (
      | SELECT doc_id, p,
      |   sum(newi) OVER (PARTITION BY doc_id ORDER BY p
      |                   ROWS UNBOUNDED PRECEDING) AS island
      | FROM isl),
      |cov AS (SELECT doc_id, island, max(p) - min(p) + 8 AS covered
      |        FROM isl2 GROUP BY doc_id, island),
      |pd AS (SELECT doc_id, CAST(sum(covered) AS BIGINT) AS dup_tokens
      |       FROM cov GROUP BY doc_id)
      |SELECT b.doc_id, b.n_tokens, coalesce(pd.dup_tokens, 0) AS dup_tokens,
      | CASE WHEN b.n_tokens <= 0 THEN 0.0
      |      ELSE round(CAST(coalesce(pd.dup_tokens, 0) AS DOUBLE) / b.n_tokens, 4) + 0
      | END AS dup_frac,
      | (CASE WHEN b.n_tokens <= 0 THEN 0.0
      |       ELSE round(CAST(coalesce(pd.dup_tokens, 0) AS DOUBLE) / b.n_tokens, 4) + 0
      |  END <= 0.5) AS keep
      |FROM base b LEFT JOIN pd USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // C14 — LSH BAND-PARAMETER SWEEP (the tuning table behind C2's
  // 8×8 choice, measured by the engine on its own corpus): the same
  // 64 minhash values re-band under rows-per-band r ∈ {4, 8, 16}
  // (16/8/4 bands — collision prob 1−(1−J^r)^(64/r), so small r
  // recalls low-Jaccard pairs at the cost of candidate volume). One
  // pipeline computes all three configs (bands key on (r, band_id)),
  // and each config's candidates are audited against the EXACT
  // ground truth — word-3-shingle Jaccard ≥ 0.5, decided by the
  // integer test 3·|A∩B| ≥ |A|+|B| (no float threshold to disagree
  // on) — over the same id-window C4 uses, so the truth set is
  // bounded and fully replayable. Output: candidates / windowed
  // candidates / true-found / recall per config — the
  // precision-recall evidence that picks (b, r) at 100 TB instead of
  // folklore.
  private def dedupLshSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val reps = docs(s, dir).groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
    // —— signature-family collapse (r10, after the sf100 spill death:
    // `No space left on device` with 67 GB free). Band hashes are pure
    // functions of the 64-value minhash signature, so CANDIDACY is
    // decided per SIGNATURE, not per doc: docs sharing a signature
    // (short resampled docs concentrate onto few signatures) collide
    // in every band of every r, and the old shape materialized those
    // families' C(n,2) pairs through a distinct, three times over.
    // Now (1) a family of n docs contributes C(n,2) to n_candidates
    // in CLOSED FORM; (2) cross-family totals weight each (distinct)
    // colliding rep pair by n_a·n_b — the band join runs over one rep
    // per signature, where the degenerate mass is gone; (3) the
    // windowed counters come from ONE id-bucket self-join (O(n·window)
    // output, the truth join's own shape) whose per-r collision flags
    // evaluate in-task over the 28 packed band hashes (zip_with ∘
    // exists) — no quadratic pair set ever becomes rows. Bit-identical
    // to the oracle's DISTINCT-pair counts: the decomposition is by
    // pair identity (same-signature vs not), not an approximation.
    // r10: the signature is ONE native pass per doc (MinhashSigExpr,
    // bit-equal minima in j order) — no per-permutation rows, no
    // collect_list re-assembly. r11: the same pass also carries the
    // sorted-distinct shingle-hash set (WordShingleModHashesExpr) —
    // the exact ground truth below reads it row-locally instead of
    // re-deriving exploded (doc, p) rows. sig NULL ⟺ ps empty (both
    // need ≥1 token), so the doc set matches the old exploded frames.
    val feat = reps
      .select(col("doc_id"),
        org.apache.spark.sql.GraftBridge.column(graft.functions.MinhashSigExpr(
          org.apache.spark.sql.GraftBridge.expression(col("text")), 3, 64))
          .as("sig"),
        org.apache.spark.sql.GraftBridge.column(
          graft.functions.WordShingleModHashesExpr(
            org.apache.spark.sql.GraftBridge.expression(col("text")), 3))
          .as("ps"))
      .filter(col("sig").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigArr = feat.select(col("doc_id"), col("sig"))
    // 28 band hashes packed one array per signature: slots 1-16 are
    // r=4's 16 bands, 17-24 r=8's, 25-28 r=16's — the same
    // xor((m_j·131 + j) mod p) fold over GLOBAL j the banding used.
    val bhExpr = expr(
      """concat(
        |  transform(sequence(0, 15), b -> aggregate(sequence(b*4, b*4+3), 0L,
        |    (acc, j) -> acc ^ ((element_at(sig, j+1) * 131 + j) % 1000000007))),
        |  transform(sequence(0, 7), b -> aggregate(sequence(b*8, b*8+7), 0L,
        |    (acc, j) -> acc ^ ((element_at(sig, j+1) * 131 + j) % 1000000007))),
        |  transform(sequence(0, 3), b -> aggregate(sequence(b*16, b*16+15), 0L,
        |    (acc, j) -> acc ^ ((element_at(sig, j+1) * 131 + j) % 1000000007))))"""
        .stripMargin)
    val fams = sigArr.groupBy(col("sig"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("nf"))
      .withColumn("bh", bhExpr)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val famClosed = fams
      .agg(coalesce(sum(expr("nf * (nf - 1) DIV 2")), lit(0L)))
      .collect()(0).getLong(0) // one scalar: Σ C(n_f, 2)
    // First-collision emission (r10, second iteration): the family
    // collapse alone did NOT survive sf100 — the sf100 probe
    // (SURVEY.md, OPTIMIZATION_r10.md) measured the cross-family r=4
    // buckets at Σ C(df,2) ≈ 2.5G pair occurrences (80M band rows,
    // sum_df² 5.06G, hottest bucket 9197), and the `.distinct()` that
    // deduped a pair colliding in several bands shuffled ALL of them
    // (>100 GB spill → ENOSPC). Instead each
    // (slot, band_hash) row now carries the PREFIX of its r-group's
    // earlier band hashes (avg 7.5 ints for r=4), and a pair is
    // emitted only at its FIRST colliding slot — `exists(zip_with(…))`
    // checks the prefixes in-task — so every distinct pair surfaces
    // exactly once and the pair stream feeds a partial aggregate
    // directly: the only shuffles are the two linear famSlots sides
    // (ReuseExchange writes the sort once), never the O(pairs) set.
    // Bit-identical to the oracle's DISTINCT-pair weights: same pair
    // set, one representative occurrence per pair.
    val famSlots = fams
      .select(col("rep_id"), col("nf").cast("int").as("nf"), col("bh"),
        posexplode(col("bh")).as(Seq("slot", "band_hash")))
      .withColumn("rbase", when(col("slot") < 16, 0)
        .when(col("slot") < 24, 16).otherwise(24))
      .select(col("slot"), col("band_hash"), col("rep_id"), col("nf"),
        expr("transform(slice(bh, rbase + 1, slot - rbase)," +
          " x -> cast(x as int))").as("pfx"))
    val crossSums = famSlots.as("a")
      .join(famSlots.as("b"),
        col("a.slot") === col("b.slot") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.rep_id") < col("b.rep_id"))
      .filter(!org.apache.spark.sql.GraftBridge.column(
        graft.functions.AnySlotEqualExpr(
          org.apache.spark.sql.GraftBridge.expression(col("a.pfx")),
          org.apache.spark.sql.GraftBridge.expression(col("b.pfx")))))
      .withColumn("r", when(col("a.slot") < 16, 4L).when(col("a.slot") < 24, 8L)
        .otherwise(16L))
      .groupBy(col("r"))
      .agg(sum(col("a.nf").cast("long") * col("b.nf")).as("cross_cand"))
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    // Windowed truth and flags in one pass over the in-window pairs
    // (id_b ∈ (id_a, id_a + 10], the oracle's window), on
    // BoundedOffsetPairs: each task folds its pairs into seven counters,
    // so no pair row reaches an exchange. Per pair, the sorted-merge
    // intersection of the distinct shingle sets is the oracle's
    // nshared, 3·nshared ≥ na + nb its truth test, and any equal band
    // hash in r's slots its collision. The counters are exact: the
    // operator yields each in-window pair once, so wc_r counts the
    // in-window pairs colliding at r, tf_r those also true, and ntrue
    // every true pair, flagged or not. Shape history: OPTIMIZATION_r11.md.
    val counters = BoundedOffsetPairs[(Array[Long], Array[Long]),
        (Long, Long, Long, Long, Long, Long, Long)](
        feat.withColumn("bh", bhExpr).select(col("doc_id"), col("ps"), col("bh")), 10) {
      pairs =>
        def anyEq(x: Array[Long], y: Array[Long], from: Int, until: Int): Boolean = {
          var i = from
          while (i < until) { if (x(i) == y(i)) return true; i += 1 }
          false
        }
        val acc = new Array[Long](7) // wc4 wc8 wc16 tf4 tf8 tf16 ntrue
        pairs.foreach { case (_, (psA, bhA), _, (ps, bh)) =>
          val c4 = anyEq(bhA, bh, 0, 16)
          val c8 = anyEq(bhA, bh, 16, 24)
          val c16 = anyEq(bhA, bh, 24, 28)
          val isTrue =
            BoundedOffsetPairs.intersectCount(psA, ps) * 3 >= psA.length + ps.length
          if (c4) { acc(0) += 1; if (isTrue) acc(3) += 1 }
          if (c8) { acc(1) += 1; if (isTrue) acc(4) += 1 }
          if (c16) { acc(2) += 1; if (isTrue) acc(5) += 1 }
          if (isTrue) acc(6) += 1
        }
        Iterator.single((acc(0), acc(1), acc(2), acc(3), acc(4), acc(5), acc(6)))
    }
      .toDF("wc4", "wc8", "wc16", "tf4", "tf8", "tf16", "ntrue")
      .agg(sum("wc4"), sum("wc8"), sum("wc16"),
        sum("tf4"), sum("tf8"), sum("tf16"), sum("ntrue"))
      .collect()(0) // one row of seven counters
    def cnt(i: Int): Long = if (counters.isNullAt(i)) 0L else counters.getLong(i)
    val nTruth = cnt(6)
    val rows = Seq(4L, 8L, 16L).zipWithIndex.map { case (r, i) =>
      val nTrue = cnt(i + 3)
      val recall = if (nTruth == 0) 1.0
      else BigDecimal(nTrue.toDouble / nTruth)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
      (64L / r, r, famClosed + crossSums.getOrElse(r, 0L), cnt(i), nTrue,
        nTruth, recall)
    }
    val out = rows.toDF("bands", "rows_per_band", "n_candidates",
      "n_window_candidates", "n_true_found", "n_true_total", "recall")
      .orderBy(col("rows_per_band"))
      .localCheckpoint(eager = true)
    feat.unpersist(false)
    fams.unpersist(false)
    out
  }

  private val dedupLshSweepSql =
    """WITH reps AS (
      | SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text
      |), toks AS (
      | SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |   x -> x <> '') AS tk
      | FROM reps
      |), sh AS (
      | SELECT DISTINCT doc_id, shingle FROM (
      |  SELECT doc_id, unnest(list_transform(
      |    generate_series(0, greatest(len(tk) - 3, 0)),
      |    i -> array_to_string(tk[i+1:i+3], ' '))) AS shingle
      |  FROM toks)
      |), ph AS (
      | SELECT DISTINCT doc_id, list_reduce(
      |   list_prepend(7::BIGINT, list_transform(generate_series(1, length(shingle)),
      |     i -> ascii(substring(shingle, i, 1))::BIGINT)),
      |   (acc, c) -> (acc * 31 + c) % 1000000007) AS p
      | FROM sh
      |), sizes AS (SELECT doc_id, count(*) AS nsh FROM ph GROUP BY doc_id),
      |shared AS (
      | SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nshared
      | FROM ph a JOIN ph b USING (p)
      | WHERE b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 10
      | GROUP BY 1, 2
      |), truth AS (
      | SELECT id_a, id_b FROM shared
      | JOIN sizes sa ON sa.doc_id = id_a
      | JOIN sizes sb ON sb.doc_id = id_b
      | WHERE nshared * 3 >= sa.nsh + sb.nsh
      |), nt AS (SELECT count(*) AS n_true_total FROM truth),
      |hj AS (
      | SELECT doc_id, j, min((p * (2*j+1) + (7919*j+13)) % 1000000007) AS m
      | FROM ph CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) js
      | GROUP BY doc_id, j
      |), bands AS (
      | SELECT r, doc_id, j // r AS band_id,
      |  bit_xor((m * 131 + j) % 1000000007) AS band_hash
      | FROM hj CROSS JOIN (SELECT unnest([4, 8, 16]) AS r) rs
      | GROUP BY r, doc_id, j // r
      |), cand AS (
      | SELECT DISTINCT r, a.doc_id AS id_a, b.doc_id AS id_b
      | FROM bands a JOIN bands b USING (r, band_id, band_hash)
      | WHERE a.doc_id < b.doc_id
      |), audited AS (
      | SELECT c.r, c.id_a, c.id_b,
      |  c.id_b <= c.id_a + 10 AS in_window,
      |  t.id_a IS NOT NULL AS is_true
      | FROM cand c LEFT JOIN truth t ON c.id_a = t.id_a AND c.id_b = t.id_b
      |)
      |SELECT CAST(64 / r AS BIGINT) AS bands, CAST(r AS BIGINT) AS rows_per_band,
      | count(*) AS n_candidates,
      | CAST(sum(CASE WHEN in_window THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_window_candidates,
      | CAST(sum(CASE WHEN in_window AND is_true THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_true_found,
      | CAST(max(n_true_total) AS BIGINT) AS n_true_total,
      | CASE WHEN max(n_true_total) = 0 THEN 1.0
      |      ELSE round(sum(CASE WHEN in_window AND is_true THEN 1 ELSE 0 END)
      |        * 1.0 / max(n_true_total), 4) + 0 END AS recall
      |FROM audited CROSS JOIN nt
      |GROUP BY r ORDER BY rows_per_band""".stripMargin

  // C15 — EDIT-DISTANCE near-dup audit (record-linkage semantics the
  // token/shingle tiers can't express: transpositions, small in-place
  // edits). The scale discipline is the LENGTH lower bound —
  // |len(a) − len(b)| ≤ lev(a, b) — applied BEFORE the quadratic-cost
  // levenshtein: candidates are id-window pairs passing the cheap
  // length test, and only those pay the DP. Both engines ship the
  // same unit-cost levenshtein (codegen'd in Spark), and the 20%
  // threshold is the exact integer test lev·5 ≤ max(len) — no float.
  // Exact-content families collapse to representatives first (C1's
  // trick), so identical texts never reach the DP. Output = every
  // audited candidate with its bound and distance — the oracle
  // equality proves the bound never lied (a row where bound > lev
  // would diverge).
  private def dedupEditDistance(s: SparkSession, dir: String): DataFrame = {
    val reps = docs(s, dir).groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
    // Pair skeleton as an offset-explode EQUI-join (C4's r2 lesson,
    // re-learned by the r8 sf10 probe: the previous pure-range
    // predicate `id_a < id_b <= id_a + 5` has no equi-key, so Spark
    // runs a nested loop over reps² — 19 s at sf1 but 1274 s (67×)
    // at sf10, quadratic by construction). Exploding off ∈ 1..5 on
    // the narrow (id, len) frame makes candidate generation a hash
    // join: 5n skeleton rows, lengths filter first, and only pairs
    // that pass the cheap bound attach text payloads (two keyed
    // joins) and pay the DP.
    val idsLens = reps.select(col("doc_id"), col("len"))
    val skel = idsLens
      .select(col("doc_id").as("id_a"), col("len").as("len_a"),
        explode(expr("sequence(1, 5)")).as("off"))
      .withColumn("id_b", col("id_a") + col("off"))
      .join(idsLens.select(col("doc_id").as("id_b"), col("len").as("len_b")),
        Seq("id_b"))
      .withColumn("bound", abs(col("len_a") - col("len_b")))
      .filter(col("bound") * 5 <= lit(2) * greatest(col("len_a"), col("len_b")))
    skel
      .join(reps.select(col("doc_id").as("id_a"), col("text").as("ta")),
        Seq("id_a"))
      .join(reps.select(col("doc_id").as("id_b"), col("text").as("tb")),
        Seq("id_b"))
      // THRESHOLDED DP: the decision never needs distances beyond the
      // cap, and Spark's banded levenshtein(l, r, k) computes only a
      // 2k-wide diagonal — O(k·len) instead of O(len²), the second
      // pruning tier under the length bound. The cap is decision-tight:
      // near-dup needs lev ≤ max(len)/5 ≤ 144 for any ≤720-char text,
      // so nothing the gate cares about is lost (measured 12.6 → 5.4 s
      // at sf0.1). Beyond-cap pairs report -1 = "provably not near".
      .withColumn("lev", levenshtein(col("ta"), col("tb"), 144))
      .select(col("id_a"), col("id_b"),
        col("len_a").cast("long").as("len_a"),
        col("len_b").cast("long").as("len_b"),
        col("bound").cast("long").as("bound"),
        col("lev").cast("long").as("lev"),
        (col("lev") >= 0 &&
          col("lev") * 5 <= greatest(col("len_a"), col("len_b")))
          .as("near_dup"))
      .transform(QueryShape.stagedSort(_, col("id_a"), col("id_b")))
  }

  private val dedupEditDistanceSql =
    """WITH reps AS (
      | SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
      |r AS (SELECT doc_id, text, length(text) AS len FROM reps),
      |p AS (
      | SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.text AS ta, b.text AS tb,
      |  a.len AS len_a, b.len AS len_b, abs(a.len - b.len) AS bound
      | FROM r a JOIN r b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 5
      | WHERE abs(a.len - b.len) * 5 <= 2 * greatest(a.len, b.len))
      |SELECT id_a, id_b, CAST(len_a AS BIGINT) AS len_a,
      | CAST(len_b AS BIGINT) AS len_b, CAST(bound AS BIGINT) AS bound,
      | CAST(CASE WHEN levenshtein(ta, tb) > 144 THEN -1
      |   ELSE levenshtein(ta, tb) END AS BIGINT) AS lev,
      | levenshtein(ta, tb) <= 144
      |   AND levenshtein(ta, tb) * 5 <= greatest(len_a, len_b) AS near_dup
      |FROM p ORDER BY id_a, id_b""".stripMargin

  // C16 — CONTENT-DEFINED CHUNKING dedup (rsync/LBFS/FastCDC
  // lineage — the chunk-level granularity between C1's whole-doc
  // exact dedup and C12's line dedup): cut points follow CONTENT —
  // a cut lands where the rolling 8-gram base-131 code ≡ 0 (mod 64,
  // expected chunk ≈ 64 chars) — so an insertion re-syncs every
  // boundary downstream of the edit and shared tails still dedup,
  // the property fixed-size chunking lacks (CdcSpec proves it: a
  // 13-char prefix insertion preserves > 80% of chunk digests).
  // Cuts come from ONE codegen'd pass (CdcCutsExpr — no interpreted
  // per-position HOF chain); chunk md5 digests are computed doc-
  // locally in the same task, so RAW TEXT NEVER SHUFFLES — the df
  // agg is keyed by 32-hex digests (n/64 rows per doc) and the dup
  // flag joins back on the digest. Per-doc report: chunk count,
  // exact mean chunk length, chunks whose digest appears in ≥ 2
  // distinct docs.
  private def dedupCdcChunks(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    val cutsCol = GraftBridge.column(graft.functions.CdcCutsExpr(
      GraftBridge.expression(col("text")), 8, 64))
    val chunks = docs(s, dir)
      .withColumn("cuts", cutsCol)
      .select(col("doc_id"),
        explode(expr(
          "transform(sequence(1, size(cuts) - 1), j -> struct(" +
            "element_at(cuts, j + 1) - element_at(cuts, j) AS clen, " +
            "md5(substring(text, element_at(cuts, j) + 1, " +
            "element_at(cuts, j + 1) - element_at(cuts, j))) AS dg))")).as("c"))
      .select(col("doc_id"), col("c.clen").as("clen"), col("c.dg").as("dg"))
    val dup = chunks.groupBy(col("dg"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") >= 2)
      .select(col("dg"), lit(1).as("isdup"))
    chunks.join(dup, Seq("dg"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        (round(sum(col("clen")) * lit(1.0) / count(lit(1)), 4) + lit(0.0))
          .as("mean_chunk_len"),
        count(col("isdup")).as("n_dup_chunks"))
      .orderBy(col("doc_id"))
  }

  private val dedupCdcChunksSql = {
    // Horner fold reduced mod 1e9+7 at every step — mirrors
    // CdcCutsExpr exactly, so neither engine can overflow (running
    // value stays < ~1.3e11) regardless of code-unit magnitude.
    val chars = (0 until 8).map { j =>
      s"CAST(CASE WHEN i + $j <= length(t) THEN ord(substring(t, i + $j, 1)) ELSE 0 END AS BIGINT)"
    }
    val terms = chars.tail.foldLeft(s"${chars.head} % 1000000007")(
      (acc, c) => s"(($acc) * 131 + $c) % 1000000007")
    s"""WITH d AS (SELECT doc_id, text AS t FROM documents),
       |g AS (SELECT doc_id, t, list_transform(
       |        generate_series(1, greatest(length(t) - 7, 1)),
       |        i -> $terms) AS codes FROM d),
       |c AS (SELECT doc_id, t, list_concat(list_concat(
       |        [0],
       |        list_filter(list_transform(generate_series(1, len(codes)),
       |          i -> CASE WHEN codes[i] % 64 = 0 AND i + 7 < length(t)
       |               THEN i + 7 ELSE -1 END), x -> x > 0)),
       |        [length(t)]) AS cuts FROM g),
       |ch AS (SELECT doc_id,
       |        unnest(list_transform(generate_series(1, len(cuts) - 1),
       |          j -> struct_pack(clen := cuts[j + 1] - cuts[j],
       |            dg := md5(substring(t, cuts[j] + 1, cuts[j + 1] - cuts[j])))))
       |          AS c
       |      FROM c),
       |cf AS (SELECT doc_id, c.clen AS clen, c.dg AS dg FROM ch),
       |dup AS (SELECT dg FROM cf GROUP BY dg HAVING count(DISTINCT doc_id) >= 2)
       |SELECT cf.doc_id, count(*) AS n_chunks,
       | round(sum(clen) * 1.0 / count(*), 4) + 0 AS mean_chunk_len,
       | count(dup.dg) AS n_dup_chunks
       |FROM cf LEFT JOIN dup ON cf.dg = dup.dg
       |GROUP BY cf.doc_id ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_cdc_chunks" -> (dedupCdcChunks _),
    "dedup_edit_distance" -> (dedupEditDistance _),
    "dedup_lsh_sweep" -> (dedupLshSweep _),
    "dedup_substring" -> (dedupSubstring _),
    "dedup_lines" -> (dedupLines _),
    "dedup_prefix_filter" -> (dedupPrefixFilter _),
    "dedup_containment" -> (dedupContainment _),
    "dedup_corpus_ngram" -> (dedupCorpusNgram _),
    "dedup_exact" -> (dedupExact _),
    "dedup_minhash_est" -> (dedupMinhashEst _),
    "dedup_minhash_lsh" -> (dedupMinhashLsh _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_embedding" -> (dedupEmbedding _),
    "dedup_cluster" -> (dedupCluster _),
    "dedup_winnowing" -> (dedupWinnowing _))

  val oracles: Map[String, String] = Map(
    "dedup_cdc_chunks" -> dedupCdcChunksSql,
    "dedup_edit_distance" -> dedupEditDistanceSql,
    "dedup_lsh_sweep" -> dedupLshSweepSql,
    "dedup_substring" -> dedupSubstringSql,
    "dedup_lines" -> dedupLinesSql,
    "dedup_prefix_filter" -> dedupPrefixFilterSql,
    "dedup_containment" -> dedupContainmentSql,
    "dedup_corpus_ngram" -> dedupCorpusNgramSql,
    "dedup_exact" -> dedupExactSql,
    "dedup_minhash_est" -> dedupMinhashEstSql,
    "dedup_minhash_lsh" -> dedupMinhashLshSql,
    "dedup_simhash" -> dedupSimhashSql,
    "dedup_ngram_jaccard" -> dedupNgramJaccardSql,
    "dedup_embedding" -> dedupEmbeddingSql,
    "dedup_cluster" -> dedupClusterSql,
    "dedup_winnowing" -> dedupWinnowingSql)
}
