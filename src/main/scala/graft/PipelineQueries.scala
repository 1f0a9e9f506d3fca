package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators (SURVEY §2.J) beyond dedup/
  * similarity: the selection and hygiene steps a 100 TB corpus run
  * needs around them.
  */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  // J1 — deterministic stratified sampling: documents are stratified
  // into length bands and sampled at per-band rates via a modular hash
  // of doc_id — the distributed, seed-stable equivalent of
  // `df.stat.sampleBy` (which is RNG-per-partition and neither
  // reproducible across engines nor replayable by the oracle). One
  // scan, no shuffle until the output sort; rates are exact-fraction
  // thresholds on the hash ring.
  private def pipelineStratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val ring = 9973L // prime ring size; hash = (doc_id * 7919 + 13) mod ring
    val d = docs(s, dir)
      .withColumn("band",
        when(length(col("text")) < 200, "short")
          .when(length(col("text")) < 350, "medium")
          .otherwise("long"))
      .withColumn("h", (col("doc_id") * 7919L + 13L) % ring)
    // short docs kept at 20%, medium 50%, long 100%
    val kept = d.filter(
      (col("band") === "short" && col("h") < ring / 5) ||
        (col("band") === "medium" && col("h") < ring / 2) ||
        col("band") === "long")
    kept.groupBy(col("band"))
      .agg(count(lit(1)).as("n_sampled"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy(col("band"))
  }

  private val pipelineStratifiedSampleSql =
    """WITH d AS (
      | SELECT doc_id,
      |   CASE WHEN length(text) < 200 THEN 'short'
      |        WHEN length(text) < 350 THEN 'medium' ELSE 'long' END AS band,
      |   (doc_id * 7919 + 13) % 9973 AS h
      | FROM documents)
      |SELECT band, count(*) AS n_sampled, min(doc_id) AS min_id, max(doc_id) AS max_id
      |FROM d
      |WHERE (band = 'short' AND h < 9973 // 5)
      |   OR (band = 'medium' AND h < 9973 // 2)
      |   OR band = 'long'
      |GROUP BY band ORDER BY band""".stripMargin

  // J2 — benchmark-contamination check: character-8-gram overlap of
  // every corpus document against a probe set (the "benchmark" — here
  // the first 20 docs). Grams explode to rows; hyper-common grams
  // (document frequency > 5% of the corpus) are stop-listed FIRST —
  // that's what keeps the gram equi-join from exploding on "the "-like
  // grams at scale AND what makes a hit mean real overlap rather than
  // shared boilerplate. Probe side is tiny → broadcast.
  private def pipelineContamination(s: SparkSession, dir: String): DataFrame = {
    // char-8-grams as NATIVE injective codes (GramCodeArrayExpr: one
    // compiled pass, base-131 polynomial — injective on ASCII, and the
    // corpus is ASCII, so every downstream count equals the string-gram
    // count exactly while shuffles move 8-byte longs). The interpreted
    // transform(substring) HOF this replaces allocated ~60M gram
    // strings per pass and was the bulk of the 36.3 s sf1 probe time.
    val gramRows = docs(s, dir).select(col("doc_id"),
      explode(org.apache.spark.sql.GraftBridge.column(
        graft.functions.GramCodeArrayExpr(
          org.apache.spark.sql.GraftBridge.expression(col("text")), 8))).as("gram"))
    val nDocs = docs(s, dir).select(count(lit(1)).as("n"))
    // rare grams only: document frequency ≤ 5%. (A count-window over
    // the gram partition would avoid computing gramRows twice, but the
    // sort-based WindowExec measured slower than hash-agg + join —
    // 2.8 s vs 2.5 s at sf0.1 — so the two-scan shape stays.)
    val rare = gramRows.groupBy(col("gram"))
      .agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * 20 <= col("n"))
      .select(col("gram"))
    val filtered = gramRows.join(rare, Seq("gram"))
    val probe = filtered.filter(col("doc_id") < 20)
      .select(col("doc_id").as("probe_id"), col("gram"))
    val corpus = filtered.filter(col("doc_id") >= 20)
    corpus.join(broadcast(probe), Seq("gram"))
      .groupBy(col("doc_id"), col("probe_id"))
      .agg(count(lit(1)).as("shared_8grams"))
      .filter(col("shared_8grams") >= 3)
      .orderBy(col("doc_id"), col("probe_id"))
  }

  private val pipelineContaminationSql =
    """WITH g AS (
      | SELECT doc_id, unnest(list_distinct(list_transform(
      |   generate_series(1, greatest(length(text) - 7, 1)),
      |   i -> substring(text, i, 8)))) AS gram
      | FROM documents),
      |rare AS (
      | SELECT gram FROM g GROUP BY gram
      | HAVING count(*) * 20 <= (SELECT count(*) FROM documents)),
      |f AS (SELECT doc_id, gram FROM g JOIN rare USING (gram)),
      |probe AS (SELECT doc_id AS probe_id, gram FROM f WHERE doc_id < 20),
      |corpus AS (SELECT doc_id, gram FROM f WHERE doc_id >= 20)
      |SELECT c.doc_id, p.probe_id, count(*) AS shared_8grams
      |FROM corpus c JOIN probe p USING (gram)
      |GROUP BY c.doc_id, p.probe_id
      |HAVING count(*) >= 3
      |ORDER BY doc_id, probe_id""".stripMargin

  // J3 — the end-to-end selection run a training-data pipeline chains
  // from the pieces above: exact dedup (md5 groupBy keeps the lowest
  // doc_id per identical text — one shuffle on the hash, never on the
  // text) → quality gate (E2's length + punctuation thresholds) →
  // language ID (E1's stopword profiles) → per-language corpus stats.
  // All stages are single-pass column expressions over the survivors;
  // the only shuffles are the dedup groupBy and the final per-language
  // aggregation, which is the minimum this composition can do.
  private def pipelineQualityGate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val keep = d.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val len = length(col("text")).cast("long")
    val punct = length(regexp_replace(col("text"), "[^.,!?;:]", "")).cast("double")
    val padded = concat(lit(" "), lower(col("text")), lit(" "))
    val scores = TextQueries.Profiles.map { case (lang, words) =>
      lang -> words.map(w => TextQueries.hits(padded, w)).reduce(_ + _)
    }
    val pred = when(scores("en") >= scores("es") && scores("en") >= scores("fr") && scores("en") >= scores("de"), "en")
      .when(scores("es") >= scores("fr") && scores("es") >= scores("de"), "es")
      .when(scores("fr") >= scores("de"), "fr")
      .otherwise("de")
    val band = when(length(col("text")) < 200, "short")
      .when(length(col("text")) < 350, "medium")
      .otherwise("long")
    d.join(keep, Seq("doc_id"), "leftsemi")
      .filter(len >= 100 && punct / len <= 0.1)
      .select(pred.as("pred_lang"), band.as("band"), col("text"))
      .groupBy(col("pred_lang"), col("band"))
      .agg(count(lit(1)).as("n_docs"),
        sum((length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1).cast("long")).as("n_words"),
        round(avg(length(col("text"))), 4).as("avg_len"))
      .orderBy(col("pred_lang"), col("band"))
  }

  private val pipelineQualityGateSql = {
    val p = "concat(' ', lower(text), ' ')"
    def score(lang: String) =
      TextQueries.Profiles(lang).map(w => TextQueries.hitsSql(p, w)).mkString(" + ")
    s"""WITH keep AS (
       | SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |gated AS (
       | SELECT d.text,
       |   ${score("en")} AS s_en, ${score("es")} AS s_es,
       |   ${score("fr")} AS s_fr, ${score("de")} AS s_de
       | FROM documents d JOIN keep USING (doc_id)
       | WHERE length(text) >= 100
       |   AND length(regexp_replace(text, '[^.,!?;:]', '', 'g')) / length(text) <= 0.1),
       |labeled AS (
       | SELECT text,
       |   CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
       |        WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
       |        WHEN s_fr >= s_de THEN 'fr'
       |        ELSE 'de' END AS pred_lang,
       |   CASE WHEN length(text) < 200 THEN 'short'
       |        WHEN length(text) < 350 THEN 'medium'
       |        ELSE 'long' END AS band
       | FROM gated)
       |SELECT pred_lang, band, count(*) AS n_docs,
       | CAST(sum(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS n_words,
       | round(avg(length(text)), 4) AS avg_len
       |FROM labeled GROUP BY pred_lang, band ORDER BY pred_lang, band""".stripMargin
  }

  // J4 — token-budget packing: the data-mixing step that fills a token
  // budget greedily by quality. Docs rank on an integer quality key
  // (E1's stopword hits — ties broken by doc_id for a TOTAL order);
  // the running token total comes from DistributedPrefixSum (range
  // partition + parallel per-partition windows + broadcast offsets —
  // no single-partition global window), and the selected prefix is
  // every doc whose cumulative count BEFORE it is under budget.
  private def pipelineTokenBudget(s: SparkSession, dir: String): DataFrame = {
    val padded = concat(lit(" "), lower(col("text")), lit(" "))
    val stopHits = Seq(" the ", " and ", " a ")
      .map(w => TextQueries.hits(padded, w)).reduce(_ + _)
    val scored = docs(s, dir).select(col("doc_id"),
      (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
        .cast("long").as("n_words"),
      stopHits.as("quality"))
    val budget = scored.agg((sum(col("n_words")) / 2).cast("long").as("budget"))
    val ranked = graft.operators.DistributedPrefixSum.withRunningTotal(
      scored, col("n_words"), "cum_words",
      col("quality").desc, col("doc_id"))
    ranked.crossJoin(broadcast(budget))
      .filter(col("cum_words") - col("n_words") < col("budget"))
      .agg(count(lit(1)).as("n_selected"),
        sum(col("n_words")).as("selected_tokens"),
        min(col("quality")).as("worst_quality"),
        max(col("budget")).as("budget"))
  }

  private val pipelineTokenBudgetSql = {
    val p = "concat(' ', lower(text), ' ')"
    val q = Seq(" the ", " and ", " a ")
      .map(w => TextQueries.hitsSql(p, w)).mkString(" + ")
    s"""WITH sc AS (
       | SELECT doc_id,
       |   CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_words,
       |   $q AS quality
       | FROM documents),
       |tot AS (SELECT CAST(sum(n_words) // 2 AS BIGINT) AS budget FROM sc),
       |r AS (SELECT *, sum(n_words) OVER (ORDER BY quality DESC, doc_id
       |        ROWS UNBOUNDED PRECEDING) AS cum_words FROM sc)
       |SELECT count(*) AS n_selected,
       | CAST(sum(n_words) AS BIGINT) AS selected_tokens,
       | min(quality) AS worst_quality, max(budget) AS budget
       |FROM r, tot WHERE cum_words - n_words < budget""".stripMargin
  }

  // J5 — domain mixing: resample the corpus to a TARGET mixture over
  // the `source` column (the "20% web, 30% code, …" step every
  // training run does). Target shares here derive deterministically
  // from the source id (share = (id mod 4 + 1)/4) standing in for the
  // externally-supplied mixture table; each stratum is thinned on the
  // same doc_id hash ring as J1. The keep test is pure integer
  // arithmetic (h·4 < ring·share·4 ⇒ h·4 < ring·(id%4+1)) so Spark
  // and the oracle agree bit-for-bit — no float rates, no RNG. One
  // scan + one final agg; the rate "table" rides along as a column so
  // no join is needed (a real mixture table would broadcast).
  private def pipelineDomainMix(s: SparkSession, dir: String): DataFrame = {
    val ring = 9973L
    docs(s, dir)
      .withColumn("src_num", substring(col("source"), 4, 10).cast("long"))
      .withColumn("h", (col("doc_id") * 7919L + 13L) % ring)
      .withColumn("share4", col("src_num") % 4 + 1) // target share × 4
      .filter(col("h") * 4 < lit(ring) * col("share4"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        round(max(col("share4")) / 4.0, 2).as("target_share"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy(col("source"))
  }

  private val pipelineDomainMixSql =
    """WITH d AS (
      | SELECT doc_id, source,
      |   CAST(substring(source, 4, 10) AS BIGINT) % 4 + 1 AS share4,
      |   (doc_id * 7919 + 13) % 9973 AS h
      | FROM documents)
      |SELECT source, count(*) AS n_kept,
      | round(max(share4) / 4.0, 2) AS target_share,
      | min(doc_id) AS min_id, max(doc_id) AS max_id
      |FROM d WHERE h * 4 < 9973 * share4
      |GROUP BY source ORDER BY source""".stripMargin

  // J6 — NEAR-dup-aware selection: J3's dedup step removes only
  // byte-identical texts; real pipelines drop near-duplicates. Reuse
  // C6's connected components over the 3-gram-Jaccard graph, keep the
  // lowest doc_id per duplicate CLUSTER, and report the corpus
  // shrinkage + surviving token mass. One extra shuffle beyond the CC
  // itself (the representative groupBy); survivors resolve with a
  // semi-join.
  private def pipelineNeardupSelect(s: SparkSession, dir: String): DataFrame = {
    val clusters = DedupQueries.queries("dedup_cluster")(s, dir)
    val keep = clusters.groupBy(col("cluster_id"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val d = docs(s, dir)
    val total = d.agg(count(lit(1)).as("n_docs"))
    d.join(keep, Seq("doc_id"), "leftsemi")
      .agg(count(lit(1)).as("n_survivors"),
        sum((length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
          .cast("long")).as("kept_words"))
      .crossJoin(broadcast(total))
      .select(col("n_docs"), col("n_survivors"),
        (col("n_docs") - col("n_survivors")).as("n_removed"),
        col("kept_words"))
  }

  private val pipelineNeardupSelectSql =
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
      |), lab AS (
      | SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node
      |), keep AS (
      | SELECT min(doc_id) AS doc_id FROM lab GROUP BY cluster_id)
      |SELECT (SELECT count(*) FROM documents) AS n_docs,
      | count(*) AS n_survivors,
      | (SELECT count(*) FROM documents) - count(*) AS n_removed,
      | CAST(sum(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT)
      |   AS kept_words
      |FROM documents JOIN keep USING (doc_id)""".stripMargin

  // J7 — curriculum bucketing: order the corpus by a difficulty proxy
  // (text length; swap in E11's LM score for a semantic curriculum)
  // and cut it into 4 equal phases with DistributedNtile — the
  // easy-to-hard schedule curriculum training consumes. No
  // single-partition global window (q26's operator: range partition +
  // per-partition offsets); phase boundaries are exact ntile
  // semantics, replayed by DuckDB's windowed ntile.
  private def pipelineCurriculum(s: SparkSession, dir: String): DataFrame = {
    val scored = docs(s, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("difficulty"))
    graft.operators.DistributedNtile
      .withNtile(scored, 4, "phase", col("difficulty").asc, col("doc_id"))
      .groupBy(col("phase"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("difficulty")).as("min_len"),
        max(col("difficulty")).as("max_len"),
        round(avg(col("difficulty")), 4).as("avg_len"))
      .orderBy(col("phase"))
  }

  private val pipelineCurriculumSql =
    """WITH r AS (
      | SELECT doc_id, CAST(length(text) AS BIGINT) AS difficulty,
      |   CAST(ntile(4) OVER (ORDER BY length(text), doc_id) AS BIGINT) AS phase
      | FROM documents)
      |SELECT phase, count(*) AS n_docs,
      | min(difficulty) AS min_len, max(difficulty) AS max_len,
      | round(avg(difficulty), 4) AS avg_len
      |FROM r GROUP BY phase ORDER BY phase""".stripMargin

  // J8 — PAGERANK over the near-dup graph (C4's jaccard >= 0.7 edges,
  // both directions): link analysis picks the CANONICAL document of a
  // duplicate neighborhood (the one most "endorsed" by its near-dups)
  // — the selection signal dedup clustering alone doesn't give. Three
  // fixed iterations of FIXED-POINT PageRank (damping 0.85, ranks as
  // integers scaled 1e6, contributions by integer division): every
  // operation is exact integer arithmetic, so the distributed sums
  // are order-independent and the oracle replays all three rounds
  // bit-for-bit — the standard float PageRank would be
  // summation-order nondeterministic across partitions. Dangling
  // docs (no near-dups) keep the damping floor. Per iteration: one
  // broadcast-join of ranks to edges + one hash agg — the
  // power-iteration shape that scales to billions of edges.
  private def pipelinePagerank(s: SparkSession, dir: String): DataFrame = {
    val pairs = DedupQueries.dedupNgramJaccard(s, dir)
      .filter(col("jaccard") >= 0.7)
      .select(col("id_a"), col("id_b"))
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(eager = true) // 3 iterations re-read the edges
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val withDeg = edges.join(deg, Seq("src"))
    val ids = docs(s, dir).select(col("doc_id"))
    var rank = ids.select(col("doc_id"), lit(1000000L).as("r"))
    for (_ <- 1 to 3) {
      val contrib = withDeg
        .join(rank.select(col("doc_id").as("src"), col("r")), Seq("src"))
        .select(col("dst"), expr("r DIV deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_sum"))
      rank = ids.join(contrib, ids("doc_id") === contrib("dst"), "left")
        .select(col("doc_id"),
          (lit(150000L) + expr("(85 * coalesce(in_sum, 0L)) DIV 100")).as("r"))
    }
    rank.select(col("doc_id"), col("r").as("pagerank"))
      .orderBy(col("doc_id"))
  }

  private val pipelinePagerankSql = {
    def round(k: Int) =
      s"""c$k AS (
         | SELECT e.dst, CAST(sum(r.r // d.deg) AS BIGINT) AS in_sum
         | FROM e JOIN d ON d.src = e.src JOIN r${k - 1} r ON r.doc_id = e.src
         | GROUP BY e.dst
         |),
         |r$k AS (
         | SELECT doc.doc_id,
         |   CAST(150000 + (85 * coalesce(c.in_sum, 0)) // 100 AS BIGINT) AS r
         | FROM documents doc LEFT JOIN c$k c ON c.dst = doc.doc_id
         |)""".stripMargin
    s"""WITH g AS (
       | SELECT doc_id, list_distinct(list_transform(
       |   generate_series(1, greatest(length(text) - 2, 1)),
       |   i -> ascii(substring(text, i, 1)) * 17161
       |      + ascii(substring(text, i + 1, 1)) * 131
       |      + ascii(substring(text, i + 2, 1)))) AS gr
       | FROM documents
       |), p AS (
       | SELECT a.doc_id AS id_a, b.doc_id AS id_b
       | FROM g a JOIN g b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 10
       | WHERE round(CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE) /
       |       len(list_distinct(list_concat(a.gr, b.gr))), 4) >= 0.7
       |), e AS (
       | SELECT id_a AS src, id_b AS dst FROM p
       | UNION ALL SELECT id_b, id_a FROM p
       |), d AS (
       | SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src
       |), r0 AS (
       | SELECT doc_id, CAST(1000000 AS BIGINT) AS r FROM documents
       |), ${(1 to 3).map(round).mkString(",\n")}
       |SELECT doc_id, r AS pagerank FROM r3 ORDER BY doc_id""".stripMargin
  }

  // J9 — the FULL curation chain, one query: exact dedup → quality
  // gate (J3's length/punctuation thresholds) → repetition gate
  // (E18's Gopher signals) → corpus-duplicated-ngram gate (C9's
  // C4/Dolma accounting, recomputed over the gated survivors so the
  // dup statistics reflect the corpus actually being kept) →
  // per-source curated stats. This is the query a training-data run
  // executes end-to-end; every stage is keyed aggregation/join (md5,
  // doc_id, gram, source — never all-pairs), fractions are
  // exact-integer ratios, and the whole chain replays in one oracle.
  private def pipelineCurate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val keep = d.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val len = length(col("text")).cast("long")
    val punct = length(regexp_replace(col("text"), "[^.,!?;:]", "")).cast("double")
    // token/bigram/5-gram stages ride positional FNV-64 gram codes
    // (WordGramHashesExpr, one compiled pass per doc per k) — every
    // stage below consumes only COUNTS over gram identities, so the
    // code identity is equivalent to the string identity up to ~2^-64
    // collisions and the string oracle stays the proof
    def gramCodes(k: Int) = explode(org.apache.spark.sql.GraftBridge.column(
      graft.functions.WordGramHashesExpr(
        org.apache.spark.sql.GraftBridge.expression(col("text")), k,
        distinct = false)))
    val base = d.join(keep, Seq("doc_id"), "leftsemi")
      .filter(len >= 100 && punct / len <= 0.1)
      .select(col("doc_id"), col("source"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // repetition gate (E18): one agg pass yields totals + top unigram
    val uni = base.select(col("doc_id"), gramCodes(1).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(sum(col("c")).as("n_toks"),
        count(lit(1)).as("n_distinct"), max(col("c")).as("top_uni"))
    val bi = base.select(col("doc_id"), gramCodes(2).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_bi"))
    val repOk = uni.join(bi, Seq("doc_id"), "left")
      .filter(
        round((col("n_toks") - col("n_distinct")) / col("n_toks"), 4) <= 0.6 &&
        round(col("top_uni") / col("n_toks"), 4) <= 0.3 &&
        (col("n_toks") <= 1L ||
          round(coalesce(col("top_bi"), lit(0L)) / (col("n_toks") - 1L), 4) <= 0.25))
      .select(col("doc_id"), col("n_toks"))
    val gated = base.join(repOk, Seq("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // corpus-duplicated-ngram gate (C9) over the gated survivors
    val grams = gated.select(col("doc_id"), gramCodes(5).as("gram"))
    val dupGrams = grams.distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2L).select(col("gram"), lit(1L).as("dup"))
    val ngramOk = grams.join(dupGrams, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), sum(coalesce(col("dup"), lit(0L))).as("n_dup"))
      .filter(round(col("n_dup") / col("n_grams"), 4) <= 0.8)
      .select(col("doc_id"))
    val out = gated.join(ngramOk, Seq("doc_id"), "leftsemi")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy(col("source"))
      .localCheckpoint(eager = true)
    base.unpersist(false); gated.unpersist(false)
    out
  }

  private val pipelineCurateSql =
    """WITH keep AS (
      | SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
      |base AS (
      | SELECT d.doc_id, d.source,
      |   list_filter(string_split_regex(lower(d.text), '[^a-z0-9]+'),
      |     x -> x <> '') AS toks
      | FROM documents d JOIN keep USING (doc_id)
      | WHERE length(d.text) >= 100
      |   AND length(regexp_replace(d.text, '[^.,!?;:]', '', 'g')) / length(d.text) <= 0.1),
      |uni AS (
      | SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
      |   count(*) AS n_distinct, max(c) AS top_uni FROM (
      |   SELECT doc_id, tok, count(*) AS c
      |   FROM (SELECT doc_id, unnest(toks) AS tok FROM base) GROUP BY doc_id, tok)
      | GROUP BY doc_id),
      |bi AS (
      | SELECT doc_id, max(c) AS top_bi FROM (
      |   SELECT doc_id, bg, count(*) AS c
      |   FROM (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
      |     THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
      |     ELSE [] END) AS bg FROM base) GROUP BY doc_id, bg)
      | GROUP BY doc_id),
      |repok AS (
      | SELECT u.doc_id, u.n_toks
      | FROM uni u LEFT JOIN bi b USING (doc_id)
      | WHERE round((u.n_toks - u.n_distinct) / u.n_toks, 4) <= 0.6
      |   AND round(u.top_uni / u.n_toks, 4) <= 0.3
      |   AND (u.n_toks <= 1
      |        OR round(coalesce(b.top_bi, 0) / (u.n_toks - 1), 4) <= 0.25)),
      |gated AS (
      | SELECT base.doc_id, base.source, base.toks, repok.n_toks
      | FROM base JOIN repok USING (doc_id)),
      |g AS (
      | SELECT doc_id, unnest(CASE WHEN len(toks) >= 5
      |   THEN list_transform(range(1, len(toks) - 3),
      |          i -> array_to_string(toks[i:i+4], ' '))
      |   ELSE [] END) AS gram FROM gated),
      |dg AS (
      | SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
      | GROUP BY gram HAVING count(*) >= 2),
      |ngramok AS (
      | SELECT g.doc_id
      | FROM g LEFT JOIN dg ON g.gram = dg.gram
      | GROUP BY g.doc_id
      | HAVING round(CAST(sum(CASE WHEN dg.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |   / count(*), 4) <= 0.8)
      |SELECT source, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens,
      | min(doc_id) AS min_id, max(doc_id) AS max_id
      |FROM gated JOIN ngramok USING (doc_id)
      |GROUP BY source ORDER BY source""".stripMargin

  // J10 — mixture EPOCH planning (the up-sampling step of data
  // mixing): given per-source target token masses, compute how many
  // full epochs of each source a run repeats and how many tokens of
  // the final partial epoch it samples — the "web ×1, code ×3.2"
  // multipliers every training mixture publishes. Targets derive
  // deterministically from the source id (share4 = id%4+1 quarters of
  // the corpus total, J5's convention standing in for the external
  // mixture table). Everything is integer arithmetic (ceil via
  // (a+b-1) DIV b), so the plan replays exactly; one token-count agg +
  // one broadcast of the corpus total — the planning query costs one
  // scan regardless of corpus size.
  private def pipelineMixtureEpochs(s: SparkSession, dir: String): DataFrame = {
    val perSrc = docs(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum((length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
          .cast("long")).as("n_tokens"))
      .withColumn("share4", substring(col("source"), 4, 10).cast("long") % 4 + 1)
    val total = perSrc.agg(sum(col("n_tokens")).as("total_tokens"))
    perSrc.crossJoin(broadcast(total))
      .withColumn("target_tokens", expr("(total_tokens * share4) DIV 16"))
      .withColumn("full_epochs", expr("target_tokens DIV n_tokens"))
      .withColumn("partial_tokens", col("target_tokens") % col("n_tokens"))
      .withColumn("epochs_ceil",
        expr("(target_tokens + n_tokens - 1) DIV n_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("target_tokens"), col("full_epochs"), col("partial_tokens"),
        col("epochs_ceil"))
      .orderBy(col("source"))
  }

  private val pipelineMixtureEpochsSql =
    """WITH ps AS (
      | SELECT source, count(*) AS n_docs,
      |   CAST(sum(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS n_tokens,
      |   CAST(substring(source, 4, 10) AS BIGINT) % 4 + 1 AS share4
      | FROM documents GROUP BY source),
      |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM ps)
      |SELECT source, n_docs, n_tokens,
      | CAST((total_tokens * share4) // 16 AS BIGINT) AS target_tokens,
      | (total_tokens * share4) // 16 // n_tokens AS full_epochs,
      | (total_tokens * share4) // 16 % n_tokens AS partial_tokens,
      | ((total_tokens * share4) // 16 + n_tokens - 1) // n_tokens AS epochs_ceil
      |FROM ps, tot ORDER BY source""".stripMargin

  // J11 — sequence PACKING (concat-and-chunk): the step that turns a
  // curated corpus into fixed-length training sequences. Documents are
  // concatenated in doc_id order and cut every L=256 tokens; a doc
  // whose token span crosses a boundary lands in every window it
  // touches (the standard pretraining packing — no padding waste, docs
  // split at window edges). Global token offsets come from
  // DistributedPrefixSum (no single-partition window); each doc then
  // EXPLODES only into the windows it overlaps (⌈n/L⌉ rows, almost
  // always 1-2 — never a corpus-wide explode), and per-window stats
  // are one hash agg on seq_id. All integer arithmetic, so the layout
  // replays bit-for-bit in the oracle. At 100 TB this is exactly the
  // shape: prefix-sum (2 tiny shuffles) + explode-by-overlap + one
  // keyed agg; every window's fill is provably L except the last.
  private def pipelinePackSequences(s: SparkSession, dir: String): DataFrame = {
    val L = 256L
    val scored = docs(s, dir).select(col("doc_id"),
      (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
        .cast("long").as("n_tokens"))
    val spans = graft.operators.DistributedPrefixSum
      .withRunningTotal(scored, col("n_tokens"), "cum", col("doc_id"))
      .withColumn("off", col("cum") - col("n_tokens"))
      .withColumn("first_seq", expr(s"off DIV $L"))
      .withColumn("last_seq", expr(s"(off + n_tokens - 1) DIV $L"))
    spans
      .select(col("doc_id"), col("n_tokens"), col("off"), col("first_seq"),
        explode(sequence(col("first_seq"), col("last_seq"))).as("seq_id"))
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("first_seq") === col("seq_id"), 1L).otherwise(0L))
          .as("n_doc_starts"),
        sum(least((col("seq_id") + 1) * L, col("off") + col("n_tokens"))
          - greatest(col("seq_id") * L, col("off"))).as("fill_tokens"))
      .orderBy(col("seq_id"))
  }

  private val pipelinePackSequencesSql =
    """WITH sc AS (
      | SELECT doc_id,
      |   CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens
      | FROM documents),
      |r AS (
      | SELECT doc_id, n_tokens,
      |   CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      |     - n_tokens AS BIGINT) AS off
      | FROM sc),
      |x AS (
      | SELECT doc_id, n_tokens, off, off // 256 AS first_seq,
      |   unnest(generate_series(off // 256, (off + n_tokens - 1) // 256)) AS seq_id
      | FROM r)
      |SELECT seq_id, count(*) AS n_docs,
      | CAST(sum(CASE WHEN first_seq = seq_id THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_doc_starts,
      | CAST(sum(least((seq_id + 1) * 256, off + n_tokens)
      |        - greatest(seq_id * 256, off)) AS BIGINT) AS fill_tokens
      |FROM x GROUP BY seq_id ORDER BY seq_id""".stripMargin

  // J12 — SemDeDup (semantic dedup, the embedding-space analogue of
  // C1→C5; arXiv:2303.09540's shape): cluster the embedding space
  // with a coarse quantizer, then drop within-CLUSTER near-duplicates
  // (cos ≥ τ keeps the lowest id) — pairwise work is bounded by
  // cluster size, never corpus². Exact-duplicate vectors collapse to
  // a min-id representative FIRST (the same family-collapse that
  // fixed dedup_simhash's sf1 blowup: exact families grow the pair
  // join quadratically and are C1's job), so the within-cluster join
  // is quadratic only in DISTINCT content per cluster. Seeded
  // centroids (D5's contract) + the shuffle-free assignOne argmin
  // keep every step replayable in the oracle. At 100 TB: K grows with
  // the corpus so clusters stay bounded, assignment stays one
  // broadcast + map, and the pair join shuffles once on cid.
  private def pipelineSemdedup(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val reps = e.groupBy(col("v"))
      .agg(min(col("vec_id")).as("rep_id"), count(lit(1)).as("n_exact"))
    val cent = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val m = graft.operators.IvfIndex
      .assign(reps.select(col("rep_id"), col("v")), cent, "rep_id", "v", keep = 1)
      .join(reps.select(col("rep_id"), col("n_exact")), Seq("rep_id"))
    // BOUNDED within-cluster pool (the r8 sf10 probe measured the
    // uncapped cid self-join at 52.7× for 10× data — pair volume is
    // n²/K with K fixed at 16): each rep tests against only the
    // cluster's [[graft.operators.CappedPool]] of 256 lowest-id reps.
    // The pool is ≤ K·256 rows, so it BROADCASTS and the dup decision
    // is ONE linear map-side pass over the corpus — no quadratic
    // shuffle anywhere. Within the capped contract a rep is dropped iff
    // it is near (4dp cos ≥ 0.3) a lower-id rep among those 256.
    // (Production SemDeDup grows K with the corpus instead — with
    // bounded cells the cap is equivalent; with fixed seeds it is the
    // skew guard.)
    val pool = graft.operators.CappedPool
      .lowest(m.select(col("cid"), col("rep_id"), col("v")), Seq("cid"), "rep_id", 256)
      .select(col("cid"), col("rep_id").as("pool_id"), col("v").as("pool_v"))
    val dup = m.select(col("rep_id"), col("v"), col("cid"))
      .join(broadcast(pool), Seq("cid"))
      .filter(col("pool_id") < col("rep_id") &&
        round(VectorOps.cosine(col("pool_v"), col("v")), 4) >= 0.3)
      .select(col("rep_id")).distinct()
      .withColumn("is_dup", lit(1L))
    m.join(dup, Seq("rep_id"), "left")
      .groupBy(col("cid"))
      .agg(sum(col("n_exact")).as("n_vectors"),
        count(lit(1)).as("n_reps"),
        sum(when(col("is_dup").isNotNull, 1L).otherwise(0L))
          .as("n_neardup_dropped"),
        (count(lit(1)) - sum(when(col("is_dup").isNotNull, 1L).otherwise(0L)))
          .as("n_kept"))
      .orderBy(col("cid"))
  }

  private val pipelineSemdedupSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |reps AS (SELECT v, min(vec_id) AS rep_id, count(*) AS n_exact
      |         FROM e GROUP BY v),
      |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
      |ad AS (SELECT r.rep_id, r.v, r.n_exact, cent.cid,
      |         list_dot_product(r.v, r.v) - 2 * list_dot_product(r.v, cent.cv)
      |         + list_dot_product(cent.cv, cent.cv) AS dist2
      |       FROM reps r CROSS JOIN cent),
      |m AS (SELECT rep_id, v, n_exact, cid FROM (
      |        SELECT *, row_number() OVER (PARTITION BY rep_id
      |          ORDER BY dist2, cid) AS crn FROM ad)
      |      WHERE crn = 1),
      |pool AS (SELECT cid, rep_id AS pool_id, v AS pool_v FROM (
      |          SELECT cid, rep_id, v, row_number() OVER (PARTITION BY cid
      |            ORDER BY rep_id) AS prn FROM m)
      |         WHERE prn <= 256),
      |dup AS (SELECT DISTINCT b.rep_id
      |        FROM pool a JOIN m b ON a.cid = b.cid AND a.pool_id < b.rep_id
      |        WHERE round(list_dot_product(a.pool_v, b.v) /
      |          (sqrt(list_dot_product(a.pool_v, a.pool_v)) *
      |           sqrt(list_dot_product(b.v, b.v))), 4) >= 0.3)
      |SELECT m.cid, CAST(sum(m.n_exact) AS BIGINT) AS n_vectors,
      | count(*) AS n_reps,
      | CAST(sum(CASE WHEN dup.rep_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_neardup_dropped,
      | count(*) - CAST(sum(CASE WHEN dup.rep_id IS NOT NULL THEN 1 ELSE 0 END)
      |   AS BIGINT) AS n_kept
      |FROM m LEFT JOIN dup ON m.rep_id = dup.rep_id
      |GROUP BY m.cid ORDER BY m.cid""".stripMargin

  // J13 — TRIANGLE counting + local clustering coefficient over the
  // near-dup graph (C4's jaccard ≥ 0.7 edges): how CLIQUE-like each
  // duplicate neighborhood is — a triangle-dense neighborhood is one
  // boilerplate family (safe to keep one representative); a star is a
  // hub document quoted by many unrelated docs (each leaf may deserve
  // to survive). The classic distributed shape: canonical a<b edges,
  // wedge join (e1.b = e2.a keeps each wedge once), closing-edge
  // equi-join — never an all-pairs product; triangle work is bounded
  // by wedge count, the quantity degree-ordering bounds at 100 TB.
  // Per-node counts come from exploding each triangle's 3 corners
  // into one hash agg; closure = 2T/d(d−1) rounded 4dp (one IEEE
  // division on exact integers, both engines identical). Threshold
  // 0.6 (vs C6/J8's 0.7): the 0.7 graph is isolated PAIRS only on
  // this corpus — triangle structure needs the looser band, and the
  // band is the operator's point (how clique-like is a family BELOW
  // the hard-dup bar).
  private def pipelineTriangles(s: SparkSession, dir: String): DataFrame = {
    val pairs = DedupQueries.dedupNgramJaccard(s, dir)
      .filter(col("jaccard") >= 0.6)
      .select(col("id_a").as("a"), col("id_b").as("b"))
      .localCheckpoint(eager = true) // three self-joins re-read the edges
    val tri = pairs.as("e1")
      .join(pairs.as("e2"), col("e1.b") === col("e2.a"))
      .join(pairs.as("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_triangles"))
    val deg = pairs.select(col("a").as("doc_id"))
      .unionAll(pairs.select(col("b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
    deg.join(perNode, Seq("doc_id"), "left")
      .filter(col("degree") >= 2)
      .select(col("doc_id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        (round(lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
          (col("degree") * (col("degree") - 1)), 4) + lit(0.0)).as("closure"))
      .orderBy(col("doc_id"))
  }

  private val pipelineTrianglesSql =
    """WITH g AS (
      | SELECT doc_id, list_distinct(list_transform(
      |   generate_series(1, greatest(length(text) - 2, 1)),
      |   i -> ascii(substring(text, i, 1)) * 17161
      |      + ascii(substring(text, i + 1, 1)) * 131
      |      + ascii(substring(text, i + 2, 1)))) AS gr
      | FROM documents
      |), p AS (
      | SELECT a.doc_id AS a, b.doc_id AS b
      | FROM g a JOIN g b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 10
      | WHERE round(CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE) /
      |       len(list_distinct(list_concat(a.gr, b.gr))), 4) >= 0.6
      |), tri AS (
      | SELECT e1.a AS x, e1.b AS y, e2.b AS z
      | FROM p e1 JOIN p e2 ON e1.b = e2.a
      |  JOIN p e3 ON e3.a = e1.a AND e3.b = e2.b
      |), tn AS (
      | SELECT doc_id, count(*) AS n_triangles FROM (
      |   SELECT unnest([x, y, z]) AS doc_id FROM tri) GROUP BY doc_id
      |), deg AS (
      | SELECT doc_id, count(*) AS degree FROM (
      |   SELECT a AS doc_id FROM p UNION ALL SELECT b FROM p) GROUP BY doc_id)
      |SELECT d.doc_id, d.degree,
      | CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
      | round(2.0 * coalesce(t.n_triangles, 0) / (d.degree * (d.degree - 1)), 4)
      |   + 0 AS closure
      |FROM deg d LEFT JOIN tn t ON d.doc_id = t.doc_id
      |WHERE d.degree >= 2
      |ORDER BY d.doc_id""".stripMargin

  // J14 — deterministic train/val/test SPLIT (the assignment every
  // training run needs, and the one step that must NEVER drift
  // between runs or engines: a doc that migrates from train to test
  // silently contaminates every eval): split = nonlinear hash of
  // doc_id mod 100 → 90/5/5. The hash is jointly nonlinear and lives
  // at a modulus above any realistic partition count (the
  // DedupScaleSpec aliasing lesson — a LINEAR doc_id hash stripes
  // residues across splits in lockstep with any modular synthetic
  // attribute). One scan + one 3-group agg; n_total rides along so
  // disjointness + completeness are part of the oracle row, not a
  // side assertion.
  private def pipelineSplit(s: SparkSession, dir: String): DataFrame = {
    val M = 1000003L
    // doc_id is reduced mod M before squaring — identical hash value
    // ((x² mod M) = ((x mod M)² mod M)) but overflow-safe: sf10 doc_ids
    // reach 9.9×10⁹, whose square exceeds 2⁶³ under ANSI arithmetic.
    val dm = col("doc_id") % M
    val d = docs(s, dir)
      .withColumn("h",
        (((dm * dm) % M) * 7919L + dm * 104729L + 12345L) % M)
      .withColumn("split",
        when(col("h") % 100L < 90, "train")
          .when(col("h") % 100L < 95, "val")
          .otherwise("test"))
    val total = d.agg(count(lit(1)).as("n_total"))
    d.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("char_mass"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .crossJoin(broadcast(total))
      .withColumn("share",
        round(col("n_docs").cast("double") / col("n_total"), 4) + lit(0.0))
      .select(col("split"), col("n_docs"), col("char_mass"), col("share"),
        col("min_id"), col("max_id"), col("n_total"))
      .orderBy(col("split"))
  }

  private val pipelineSplitSql =
    """WITH d AS (
      | SELECT doc_id, n_chars,
      |  ((((doc_id % 1000003) * (doc_id % 1000003)) % 1000003) * 7919
      |    + (doc_id % 1000003) * 104729 + 12345) % 1000003 AS h
      | FROM documents),
      |s AS (
      | SELECT doc_id, n_chars,
      |  CASE WHEN h % 100 < 90 THEN 'train'
      |       WHEN h % 100 < 95 THEN 'val' ELSE 'test' END AS split
      | FROM d)
      |SELECT split, count(*) AS n_docs,
      | CAST(sum(n_chars) AS BIGINT) AS char_mass,
      | round(CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM documents), 4)
      |   + 0 AS share,
      | min(doc_id) AS min_id, max(doc_id) AS max_id,
      | (SELECT count(*) FROM documents) AS n_total
      |FROM s GROUP BY split ORDER BY split""".stripMargin

  // J15 — URL canonicalization + dedup (the CommonCrawl-style hygiene
  // pass that runs even before content dedup: the same page arrives
  // as http/https, with/without trailing slash, with tracking params
  // and fragments). The corpus has no URL column, so the query
  // derives a deterministically MESSY url per doc (the textNormalize
  // twin trick): scheme/host case by doc_id parity, trailing slash by
  // mod 3, utm tracking params by mod 5, fragment by mod 4.
  // Canonicalize = lowercase → strip fragment → strip utm params →
  // strip trailing slash (all codegen'd regexp_replace, no capture
  // groups — Spark's $1 vs DuckDB's \1 replacement syntax differ).
  // Dedup = one groupBy canonical per source. At 100 TB this is one
  // scan + one hash agg on the canonical string.
  private def pipelineUrlDedup(s: SparkSession, dir: String): DataFrame = {
    val url = concat(
      when(col("doc_id") % 2 === 0, "HTTPS://").otherwise("https://"),
      when(col("doc_id") % 2 === 0, upper(col("source"))).otherwise(col("source")),
      lit(".Example.COM/p/"), (col("doc_id") % 97).cast("string"),
      when(col("doc_id") % 3 === 0, "/").otherwise(""),
      when(col("doc_id") % 5 === 0,
        concat(lit("?ref="), (col("doc_id") % 4).cast("string"), lit("&utm_source=feed")))
        .when(col("doc_id") % 5 === 1, "?utm_campaign=x").otherwise(""),
      when(col("doc_id") % 4 === 0, "#top").otherwise(""))
    val canon =
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(lower(url), "#.*$", ""),
            "[?&]utm_[a-z]+=[^&#]*", ""),
          "/\\?", "?"),
        "/$", "")
    val fam = docs(s, dir).select(col("source"), canon.as("canonical"))
      .groupBy(col("source"), col("canonical")).agg(count(lit(1)).as("fam"))
    fam.groupBy(col("source"))
      .agg(sum(col("fam")).as("n_urls"),
        count(lit(1)).as("n_canonical"),
        (sum(col("fam")) - count(lit(1))).as("n_collapsed"),
        sum(when(col("fam") >= 2, 1L).otherwise(0L)).as("n_dup_families"),
        max(col("fam")).as("max_family"))
      .orderBy(col("source"))
  }

  private val pipelineUrlDedupSql =
    """WITH u AS (
      | SELECT source,
      |  (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END)
      |  || (CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END)
      |  || '.Example.COM/p/' || CAST(doc_id % 97 AS VARCHAR)
      |  || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
      |  || (CASE WHEN doc_id % 5 = 0
      |        THEN '?ref=' || CAST(doc_id % 4 AS VARCHAR) || '&utm_source=feed'
      |       WHEN doc_id % 5 = 1 THEN '?utm_campaign=x' ELSE '' END)
      |  || (CASE WHEN doc_id % 4 = 0 THEN '#top' ELSE '' END) AS url
      | FROM documents),
      |c AS (
      | SELECT source,
      |  regexp_replace(
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(lower(url), '#.*$', '', 'g'),
      |        '[?&]utm_[a-z]+=[^&#]*', '', 'g'),
      |      '/\?', '?', 'g'),
      |    '/$', '', 'g') AS canonical
      | FROM u),
      |fam AS (SELECT source, canonical, count(*) AS fam
      |        FROM c GROUP BY source, canonical)
      |SELECT source, CAST(sum(fam) AS BIGINT) AS n_urls,
      | count(*) AS n_canonical,
      | CAST(sum(fam) - count(*) AS BIGINT) AS n_collapsed,
      | CAST(sum(CASE WHEN fam >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_families,
      | max(fam) AS max_family
      |FROM fam GROUP BY source ORDER BY source""".stripMargin

  // J16 — DSIR-shaped importance weighting (data selection via
  // importance resampling, arXiv:2302.03169's deployment shape: score
  // every raw document by how much its hashed-ngram profile looks
  // like a small TARGET set, then keep the highest-weight docs). The
  // feature space is E15's 64-bucket portable hash; the importance
  // statistic is the exact-INTEGER rate difference Σ_b c_b·(t_rate_b
  // − r_rate_b) with per-million rates via integer DIV — the log-ratio
  // of the paper is monotone-equivalent for ranking but its per-doc
  // float sum is merge-order-dependent, so the integer statistic is
  // what a bit-replayable engine ships. Target = doc_id % 7 == 0 (a
  // deterministic stand-in for "the trusted corpus"). Shape: one
  // explode → per-doc bucket counts + two 64-row rate tables →
  // broadcast join → exact per-doc fold; top-20 by (weight desc,
  // doc_id) through sort+limit (TakeOrderedAndProject, never a
  // single-partition window over the corpus).
  private def pipelineDsir(s: SparkSession, dir: String): DataFrame = {
    val S = 1000000L
    // per-token mod-hash buckets natively (WordShingleModHashesExpr
    // with k=1, positional: one p per token, exactly the oracle's
    // (acc·31+c) mod 1e9+7 fold) — replaces a per-token explode plus a
    // per-CHARACTER aggregate lambda
    val tok = docs(s, dir)
      .select(col("doc_id"), col("source"),
        explode(org.apache.spark.sql.GraftBridge.column(
          graft.functions.WordShingleModHashesExpr(
            org.apache.spark.sql.GraftBridge.expression(col("text")), 1,
            distinct = false))).as("p"))
      .withColumn("bucket", col("p") % 64)
    val perDoc = tok.groupBy(col("doc_id"), col("source"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    val tTot = perDoc.filter(col("doc_id") % 7 === 0)
      .agg(sum(col("c")).as("t_total"))
    val rTot = perDoc.agg(sum(col("c")).as("r_total"))
    val rates = perDoc
      .groupBy(col("bucket"))
      .agg(sum(when(col("doc_id") % 7 === 0, col("c")).otherwise(0L)).as("tc"),
        sum(col("c")).as("rc"))
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(rTot))
      .select(col("bucket"),
        expr(s"(tc * $S) DIV t_total").as("t_rate"),
        expr(s"(rc * $S) DIV r_total").as("r_rate"))
    val weighted = perDoc.filter(col("doc_id") % 7 =!= 0)
      .join(broadcast(rates), "bucket")
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * (col("t_rate") - col("r_rate"))).as("weight"))
    val top = weighted.orderBy(col("weight").desc, col("doc_id")).limit(20)
    top.withColumn("rank", row_number()
        .over(Window.orderBy(col("weight").desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("source"),
        col("n_tokens"), col("weight"))
      .orderBy(col("rank"))
  }

  private val pipelineDsirSql =
    """WITH tok AS (
      | SELECT doc_id, source, unnest(list_filter(
      |   string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok
      | FROM documents),
      |b AS (
      | SELECT doc_id, source,
      |   list_reduce(
      |     list_prepend(7::BIGINT, list_transform(generate_series(1, length(tok)),
      |       i -> ascii(substring(tok, i, 1))::BIGINT)),
      |     (acc, c) -> (acc * 31 + c) % 1000000007) % 64 AS bucket
      | FROM tok),
      |pd AS (SELECT doc_id, source, bucket, CAST(count(*) AS BIGINT) AS c
      |       FROM b GROUP BY doc_id, source, bucket),
      |tt AS (SELECT CAST(sum(c) AS BIGINT) AS t_total FROM pd WHERE doc_id % 7 = 0),
      |rt AS (SELECT CAST(sum(c) AS BIGINT) AS r_total FROM pd),
      |rates AS (
      | SELECT bucket,
      |   CAST(sum(CASE WHEN doc_id % 7 = 0 THEN c ELSE 0 END) AS BIGINT)
      |     * 1000000 // t_total AS t_rate,
      |   CAST(sum(c) AS BIGINT) * 1000000 // r_total AS r_rate
      | FROM pd, tt, rt GROUP BY bucket, t_total, r_total),
      |wgt AS (
      | SELECT doc_id, any_value(source) AS source,
      |   CAST(sum(c) AS BIGINT) AS n_tokens,
      |   CAST(sum(c * (t_rate - r_rate)) AS BIGINT) AS weight
      | FROM pd JOIN rates USING (bucket) WHERE doc_id % 7 <> 0
      | GROUP BY doc_id),
      |top AS (SELECT * FROM wgt ORDER BY weight DESC, doc_id LIMIT 20)
      |SELECT CAST(row_number() OVER (ORDER BY weight DESC, doc_id) AS BIGINT) AS rank,
      | doc_id, source, n_tokens, weight
      |FROM top ORDER BY rank""".stripMargin

  // J17 — classifier CALIBRATION table (the deployment audit for E20:
  // before a learned filter replaces a rule-based gate, you bucket its
  // scores and measure agreement with the rules per bucket — the
  // "calibration curve" every filter swap publishes). Margin deciles
  // come from DistributedNtile (exact SQL-ntile semantics with no
  // single-partition window — the corpus-wide ORDER BY is the trap
  // this avoids at 100 TB); the gate is J3's length + punctuation
  // rule in EXACT integer form (punct·10 ≤ len — no float boundary);
  // per-decile mean margin is an exact integer sum with one terminal
  // division. Docs with zero alphanumeric tokens have no margin and
  // drop from both engines identically.
  private def pipelineQualityCalibration(s: SparkSession, dir: String): DataFrame = {
    // r10: the margin is ROW-LOCAL — Σ_tokens w(bucket(tok)) ==
    // Σ_b counts[b]·w(b) — so one native histogram pass
    // (HashBucketCountsExpr, the oracle's own integer fold) plus a
    // 64-slot SQL dot-product replaces the explode → groupBy(doc_id)
    // shuffle whose 750M token rows spilled at sf100 (20.6x wall for
    // 10x docs). The counts-sum > 0 filter keeps the explode shape's
    // behavior of never emitting token-less docs into the deciles.
    val margins = docs(s, dir)
      .select(col("doc_id"), org.apache.spark.sql.GraftBridge.column(
        graft.functions.HashBucketCountsExpr(
          org.apache.spark.sql.GraftBridge.expression(col("text")), 64))
        .as("cnts"))
      .filter(expr("aggregate(cnts, 0L, (acc, c) -> acc + c) > 0"))
      .select(col("doc_id"), expr(
        """aggregate(sequence(0, 63), 0L, (acc, b) ->
          |  acc + element_at(cnts, b + 1) *
          |    ((((CAST(b AS BIGINT) * b) % 997) * 7919
          |      + b * 104729 + 65537) % 1001 - 500))""".stripMargin)
        .as("margin"))
    val gate = docs(s, dir).select(col("doc_id"),
      length(col("text")).cast("long").as("len"),
      length(regexp_replace(col("text"), "[^.,!?;:]", "")).cast("long").as("punct"))
    val scored = margins.join(gate, "doc_id")
      .withColumn("gate_keep", col("len") >= 100L && col("punct") * 10L <= col("len"))
      .withColumn("clf_keep", col("margin") > 0L)
    val dec = graft.operators.DistributedNtile
      .withNtile(scored, 10, "decile", col("margin").asc, col("doc_id").asc)
    dec.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        (round(sum(col("margin")).cast("double") / count(lit(1)), 4) + lit(0.0))
          .as("mean_margin"),
        sum(when(col("gate_keep"), 1L).otherwise(0L)).as("n_gate_keep"),
        sum(when(col("clf_keep"), 1L).otherwise(0L)).as("n_clf_keep"),
        sum(when(col("gate_keep") === col("clf_keep"), 1L).otherwise(0L))
          .as("n_agree"))
      .withColumn("agree_rate",
        round(col("n_agree").cast("double") / col("n_docs"), 4) + lit(0.0))
      .orderBy(col("decile"))
  }

  private val pipelineQualityCalibrationSql =
    """WITH tok AS (
      | SELECT doc_id, unnest(list_filter(
      |   string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok
      | FROM documents),
      |b AS (
      | SELECT doc_id,
      |   list_reduce(
      |     list_prepend(7::BIGINT, list_transform(generate_series(1, length(tok)),
      |       i -> ascii(substring(tok, i, 1))::BIGINT)),
      |     (acc, c) -> (acc * 31 + c) % 1000000007) % 64 AS bucket
      | FROM tok),
      |w AS (
      | SELECT doc_id,
      |   ((bucket * bucket % 997) * 7919 + bucket * 104729 + 65537) % 1001 - 500 AS w
      | FROM b),
      |m AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS margin FROM w GROUP BY doc_id),
      |gate AS (
      | SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
      |   CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS punct
      | FROM documents),
      |s AS (
      | SELECT m.doc_id, margin,
      |   (len >= 100 AND punct * 10 <= len) AS gate_keep,
      |   margin > 0 AS clf_keep
      | FROM m JOIN gate USING (doc_id)),
      |d AS (SELECT *, CAST(ntile(10) OVER (ORDER BY margin, doc_id) AS BIGINT)
      |        AS decile FROM s)
      |SELECT decile, count(*) AS n_docs,
      | round(CAST(sum(margin) AS DOUBLE) / count(*), 4) + 0 AS mean_margin,
      | CAST(sum(CASE WHEN gate_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_gate_keep,
      | CAST(sum(CASE WHEN clf_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_clf_keep,
      | CAST(sum(CASE WHEN gate_keep = clf_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
      | round(CAST(sum(CASE WHEN gate_keep = clf_keep THEN 1 ELSE 0 END) AS DOUBLE)
      |   / count(*), 4) + 0 AS agree_rate
      |FROM d GROUP BY decile ORDER BY decile""".stripMargin

  // J18 — CONTEXT-WINDOW CHUNKING: split every document into
  // fixed-size token chunks (C=100) with a fixed overlap (20 tokens,
  // stride 80) — the pre-training/RAG segmentation step that runs
  // between curation and packing. Chunk starts are 1 + k·stride for
  // k = 0..kmax where kmax = 0 if n ≤ C else ⌈(n−C)/stride⌉ (the last
  // chunk reaches the document end exactly once; no fully-redundant
  // tail chunk). Each chunk row carries its md5 content digest so the
  // oracle proves CONTENT parity, not just boundary arithmetic,
  // while raw chunk text never leaves the scan. Shape matters at
  // 100 TB: chunking is MAP-ONLY — one generate per doc, no shuffle
  // anywhere until the reporting sort; output size is bounded by
  // n/stride + 1 rows per doc (≈1.25× token mass at these knobs).
  private def pipelineChunk(s: SparkSession, dir: String): DataFrame = {
    val (c, stride) = (100, 80)
    docs(s, dir)
      .select(col("doc_id"),
        expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')").as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") >= 1L)
      .select(col("doc_id"), col("toks"), col("n"), explode(expr(
        s"""sequence(0L, IF(n <= $c, 0L,
           |  CAST(ceil((n - $c) / ${stride}.0) AS LONG)))""".stripMargin)).as("k"))
      .withColumn("start", lit(1L) + col("k") * stride)
      .withColumn("chunk_len", least(lit(c.toLong), col("n") - col("start") + 1L))
      .withColumn("chunk_hash",
        md5(expr(s"cast(concat_ws(' ', slice(toks, start, $c)) as binary)")))
      .select(col("doc_id"), col("k").as("chunk_id"), col("start"),
        col("chunk_len"), col("chunk_hash"))
      .transform(QueryShape.stagedSort(_, col("doc_id"), col("chunk_id")))
  }

  private val pipelineChunkSql =
    """WITH t AS (
      | SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |   x -> x <> '') AS toks
      | FROM documents),
      |b AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t
      |      WHERE len(toks) >= 1),
      |ks AS (
      | SELECT doc_id, toks, n,
      |   CAST(unnest(generate_series(0, CASE WHEN n <= 100 THEN 0
      |     ELSE CAST(ceil((n - 100) / 80.0) AS BIGINT) END)) AS BIGINT) AS k
      | FROM b)
      |SELECT doc_id, k AS chunk_id, 1 + k * 80 AS start,
      | least(100, n - (1 + k * 80) + 1) AS chunk_len,
      | md5(array_to_string(toks[1 + k * 80 : k * 80 + 100], ' ')) AS chunk_hash
      |FROM ks ORDER BY doc_id, chunk_id""".stripMargin

  // J19 — DATA-CARD PROFILING: the per-source corpus statistics sheet
  // (doc counts, language spread, emptiness, token mass, exact
  // p50/p95 token lengths, dominant language + its share) every
  // curation run publishes alongside the data. One scan feeds two
  // hash aggs — all counters are map-side combinable; the exact
  // percentile is the one non-mergeable aggregate, kept here because
  // the oracle demands exactness (at 100 TB the same sheet swaps it
  // for the KLL sketch, I4's infrastructure, with the rest of the
  // plan unchanged). Dominant language is deterministic under ties
  // (max count, then lexicographic min) via a per-source top-1
  // window over the source×lang counts — O(sources·langs) rows.
  private def pipelineProfile(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).withColumn("n_tokens",
      size(expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')")).cast("long"))
    val base = d.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("lang")).as("n_langs"),
      sum(when(col("text").isNull || length(trim(col("text"))) === 0, 1L)
        .otherwise(0L)).as("n_empty"),
      sum(col("n_tokens")).as("total_tokens"),
      (round(avg(col("n_tokens")), 4) + lit(0.0)).as("avg_tokens"),
      (round(expr("percentile(n_tokens, 0.5)"), 4) + lit(0.0)).as("p50_tokens"),
      (round(expr("percentile(n_tokens, 0.95)"), 4) + lit(0.0)).as("p95_tokens"),
      (round(avg(col("n_chars")), 4) + lit(0.0)).as("avg_chars"))
    val lc = d.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("source")).orderBy(col("c").desc, col("lang"))
    val top = lc.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"), col("c").as("top_lang_docs"))
    base.join(top, Seq("source"))
      .withColumn("top_lang_frac",
        round(col("top_lang_docs").cast("double") / col("n_docs"), 4) + lit(0.0))
      .orderBy(col("source"))
  }

  private val pipelineProfileSql =
    """WITH d AS (
      | SELECT source, lang, text, n_chars,
      |   CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |     x -> x <> '')) AS BIGINT) AS n_tokens
      | FROM documents),
      |base AS (
      | SELECT source, count(*) AS n_docs,
      |   CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |   CAST(sum(CASE WHEN text IS NULL OR len(trim(text)) = 0
      |     THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
      |   CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |   round(avg(n_tokens), 4) + 0 AS avg_tokens,
      |   round(quantile_cont(n_tokens, 0.5), 4) + 0 AS p50_tokens,
      |   round(quantile_cont(n_tokens, 0.95), 4) + 0 AS p95_tokens,
      |   round(avg(n_chars), 4) + 0 AS avg_chars
      | FROM d GROUP BY source),
      |lc AS (SELECT source, lang, count(*) AS c FROM d GROUP BY source, lang),
      |top AS (
      | SELECT source, lang AS top_lang, c AS top_lang_docs FROM (
      |   SELECT source, lang, c,
      |     row_number() OVER (PARTITION BY source ORDER BY c DESC, lang) AS rn
      |   FROM lc) WHERE rn = 1)
      |SELECT b.source, n_docs, n_langs, n_empty, total_tokens, avg_tokens,
      | p50_tokens, p95_tokens, avg_chars, top_lang, top_lang_docs,
      | round(CAST(top_lang_docs AS DOUBLE) / n_docs, 4) + 0 AS top_lang_frac
      |FROM base b JOIN top USING (source) ORDER BY source""".stripMargin

  // J20 — INCREMENTAL corpus dedup: the production shape of C1 — a
  // crawl never re-dedups 100 TB from scratch; each INCOMING batch
  // dedups against the standing corpus' digest set, then within
  // itself. Batch split is a deterministic hash ring on doc_id (80%
  // corpus / 20% incoming, J1's seed-stable trick); an incoming doc is
  // dropped as dup-vs-corpus if its md5 digest exists in the corpus
  // (LEFT SEMI on the digest — the shuffle moves 16-byte keys), else
  // as dup-within if a smaller incoming doc_id shares the digest
  // (min-per-digest, C1's hash agg), else admitted. Per-source
  // admission report. At 100 TB the corpus side of the semi-join is
  // the standing digest INDEX (a bucketed digest table, or I3's bloom
  // as a pre-filter that eliminates the shuffle for the ~unique
  // majority); the incoming side is one batch — the join is
  // batch-sized, not corpus-sized.
  private def pipelineIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .withColumn("h", md5(col("text").cast("binary")))
      .withColumn("bucket", (col("doc_id") * 7919L + 3L) % 10L)
    val corpus = d.filter(col("bucket") < 8L).select(col("h")).distinct()
    val incoming = d.filter(col("bucket") >= 8L)
      .select(col("doc_id"), col("source"), col("h"))
    val vsCorpus = incoming.join(corpus, Seq("h"), "left_semi")
      .select(col("doc_id")).withColumn("dup_corpus", lit(true))
    val minWithin = incoming.groupBy(col("h")).agg(min(col("doc_id")).as("min_id"))
    val flagged = incoming
      .join(vsCorpus, Seq("doc_id"), "left")
      .join(minWithin, Seq("h"))
      .withColumn("status",
        when(col("dup_corpus").isNotNull, "dup_corpus")
          .when(col("doc_id") > col("min_id"), "dup_within")
          .otherwise("admitted"))
    flagged.groupBy(col("source")).agg(
      count(lit(1)).as("n_incoming"),
      sum(when(col("status") === "dup_corpus", 1L).otherwise(0L)).as("n_dup_corpus"),
      sum(when(col("status") === "dup_within", 1L).otherwise(0L)).as("n_dup_within"),
      sum(when(col("status") === "admitted", 1L).otherwise(0L)).as("n_admitted"))
      .withColumn("admit_rate",
        round(col("n_admitted").cast("double") / col("n_incoming"), 4) + lit(0.0))
      .orderBy(col("source"))
  }

  private val pipelineIncrementalDedupSql =
    """WITH d AS (
      | SELECT doc_id, source, md5(text) AS h,
      |   (doc_id * 7919 + 3) % 10 AS bucket
      | FROM documents),
      |corpus AS (SELECT DISTINCT h FROM d WHERE bucket < 8),
      |inc AS (SELECT doc_id, source, h FROM d WHERE bucket >= 8),
      |mw AS (SELECT h, min(doc_id) AS min_id FROM inc GROUP BY h),
      |f AS (
      | SELECT i.doc_id, i.source,
      |   CASE WHEN EXISTS (SELECT 1 FROM corpus c WHERE c.h = i.h)
      |          THEN 'dup_corpus'
      |        WHEN i.doc_id > mw.min_id THEN 'dup_within'
      |        ELSE 'admitted' END AS status
      | FROM inc i JOIN mw ON i.h = mw.h)
      |SELECT source, count(*) AS n_incoming,
      | CAST(sum(CASE WHEN status = 'dup_corpus' THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_dup_corpus,
      | CAST(sum(CASE WHEN status = 'dup_within' THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_dup_within,
      | CAST(sum(CASE WHEN status = 'admitted' THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_admitted,
      | round(CAST(sum(CASE WHEN status = 'admitted' THEN 1 ELSE 0 END) AS DOUBLE)
      |   / count(*), 4) + 0 AS admit_rate
      |FROM f GROUP BY source ORDER BY source""".stripMargin

  // J21 — token-balanced SHARD assignment (the step between curation
  // and the dataloader: a 100 TB corpus lands in N shards whose TOKEN
  // masses — not doc counts — must match, or the stragglers set the
  // epoch time). Deterministic snake/boustrophedon LPT: rank docs by
  // (tokens DESC, doc_id), deal rank r to shard r%N on even passes
  // and N-1-(r%N) on odd — long docs spread first, each pass corrects
  // the previous pass's tail bias. The global rank comes from
  // DistributedPrefixSum (range-shuffle + per-partition offsets), NOT
  // a single-partition row_number window — the one-scan scale shape.
  // Output = per-shard doc count, token mass, and share: a green row
  // proves the whole permutation, since any misplaced doc moves two
  // shard masses.
  private def pipelineShardAssign(s: SparkSession, dir: String): DataFrame = {
    val N = 8
    val toks = docs(s, dir).select(col("doc_id"),
      size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)"))
        .cast("long").as("tokens"))
    val ranked = graft.operators.DistributedPrefixSum.withRunningTotal(
        toks, lit(1L), "rk", col("tokens").desc, col("doc_id"))
      .withColumn("rank", col("rk") - 1)
    val shard = ranked.withColumn("pass", expr(s"CAST(rank / $N AS BIGINT)"))
      .withColumn("pos", col("rank") % N)
      .withColumn("shard",
        when(col("pass") % 2 === 0, col("pos")).otherwise(lit(N - 1) - col("pos")))
    val total = shard.agg(sum(col("tokens")).as("total"))
    shard.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("tok_mass"))
      .crossJoin(broadcast(total))
      .select(col("shard"), col("n_docs"), col("tok_mass"),
        round(col("tok_mass") / col("total"), 6).as("share"))
      .orderBy(col("shard"))
  }

  private val pipelineShardAssignSql =
    """WITH tk AS (
      | SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
      |    AS BIGINT) AS tokens
      | FROM documents),
      |r AS (
      | SELECT doc_id, tokens,
      |  row_number() OVER (ORDER BY tokens DESC, doc_id) - 1 AS rank
      | FROM tk),
      |sh AS (
      | SELECT *, CASE WHEN (rank // 8) % 2 = 0 THEN rank % 8
      |                ELSE 7 - rank % 8 END AS shard
      | FROM r)
      |SELECT shard, count(*) AS n_docs, CAST(sum(tokens) AS BIGINT) AS tok_mass,
      | round(sum(tokens) * 1.0 / (SELECT sum(tokens) FROM tk), 6) AS share
      |FROM sh GROUP BY shard ORDER BY shard""".stripMargin

  // J22 — deterministic GLOBAL SHUFFLE (the write-ordering step before
  // training: examples must reach the dataloader in an order
  // uncorrelated with crawl/source order, and the order must be
  // REPRODUCIBLE run-to-run — no rand()). Shuffle key = md5(doc_id ‖
  // seed); the global position is again DistributedPrefixSum over the
  // key order (at scale this IS the write: range-partition on the key
  // and each task streams its run out in order — no single-partition
  // sort anywhere). The leading hex nibble doubles as the range-bucket
  // id the files would land in. Output = every doc's position: green
  // proves the exact permutation both engines derive from the seed.
  private def pipelineGlobalShuffle(s: SparkSession, dir: String): DataFrame =
    graft.operators.DistributedPrefixSum.withRunningTotal(
        docs(s, dir).select(col("doc_id"),
          md5(concat(col("doc_id").cast("string"), lit(":seed42"))).as("skey")),
        lit(1L), "rk", col("skey"), col("doc_id"))
      .select(col("doc_id"), (col("rk") - 1).as("pos"),
        substring(col("skey"), 1, 1).as("bucket"))
      .transform(QueryShape.stagedSort(_, col("doc_id")))

  private val pipelineGlobalShuffleSql =
    """WITH k AS (
      | SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':seed42') AS skey
      | FROM documents)
      |SELECT doc_id,
      | row_number() OVER (ORDER BY skey, doc_id) - 1 AS pos,
      | substring(skey, 1, 1) AS bucket
      |FROM k ORDER BY doc_id""".stripMargin

  // J23 — T5-style SPAN CORRUPTION planning (the MLM/denoising
  // pre-processing step: ~15% of tokens masked, CONSECUTIVE masked
  // tokens collapse into one sentinel): mask selection is a
  // small-modulus integer hash of (doc_id, pos) — the
  // distributed-reproducible stand-in for a seeded RNG (same mask
  // every epoch, every engine, every retry — which is exactly what a
  // resumable 100 TB corruption job needs); spans come from
  // gaps-and-islands over the masked positions (pos − rank, pure
  // window algebra, doc-local). Output per doc: token/mask/span
  // counts, mask ratio, and the corrupted length n_tokens − n_masked
  // + n_spans (each span becomes one sentinel token) — the number
  // that sizes the denoising batch. Map-only until the per-doc agg;
  // every shuffle key is doc_id.
  private def pipelineT5Spans(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(col("doc_id"), posexplode(expr(
        "filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')"))
        .as(Seq("pos", "tok")))
    val masked = toks
      .withColumn("m",
        (lit(1103) * (col("doc_id") * 1000 + col("pos")) + 12289) % 97 < 15)
    val spans = masked.filter(col("m"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .groupBy(col("doc_id"), (col("pos") - col("rn")).as("island"))
      .agg(count(lit(1)).as("span_len"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("span_len")).as("n_masked"))
    masked.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tokens"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_masked"), lit(0L)).as("n_masked"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"))
      .withColumn("mask_ratio",
        round(col("n_masked") / col("n_tokens"), 4) + lit(0.0))
      .withColumn("corrupted_len",
        col("n_tokens") - col("n_masked") + col("n_spans"))
      .transform(QueryShape.stagedSort(_, col("doc_id")))
  }

  private val pipelineT5SpansSql =
    """WITH t AS (
      | SELECT doc_id, list_filter(string_split_regex(lower(text),
      |   '[^a-z0-9]+'), x -> x <> '') AS toks
      | FROM documents),
      |e AS (
      | SELECT doc_id, i - 1 AS pos
      | FROM t, (SELECT unnest(generate_series(1, 256)) AS i)
      | WHERE i <= len(toks)),
      |m AS (
      | SELECT doc_id, pos,
      |  (1103 * (doc_id * 1000 + pos) + 12289) % 97 < 15 AS msk
      | FROM e),
      |sp AS (
      | SELECT doc_id, island, count(*) AS span_len FROM (
      |  SELECT doc_id, pos,
      |   pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM m WHERE msk)
      | GROUP BY doc_id, island),
      |sd AS (
      | SELECT doc_id, count(*) AS n_spans,
      |  CAST(sum(span_len) AS BIGINT) AS n_masked
      | FROM sp GROUP BY doc_id),
      |tot AS (SELECT doc_id, count(*) AS n_tokens FROM m GROUP BY doc_id)
      |SELECT tot.doc_id, n_tokens,
      | coalesce(n_masked, 0) AS n_masked,
      | coalesce(n_spans, 0) AS n_spans,
      | round(coalesce(n_masked, 0) * 1.0 / n_tokens, 4) + 0 AS mask_ratio,
      | n_tokens - coalesce(n_masked, 0) + coalesce(n_spans, 0)
      |   AS corrupted_len
      |FROM tot LEFT JOIN sd ON tot.doc_id = sd.doc_id
      |ORDER BY tot.doc_id""".stripMargin

  // J24 — distribution DRIFT detection via KL divergence (the
  // train/serve and source-vs-corpus drift monitor): per source, the
  // character distribution's KL divergence against the corpus-wide
  // distribution, from EXACT integer (source, char) counts — one
  // map-side-combining hash agg whose shuffle is ≤ |alphabet| rows
  // per source (E21's shape), then a broadcast join of the corpus
  // reference. Zero-probability chars can't blow up: KL sums only
  // over chars the source actually emits, and the corpus marginal
  // dominates every source (a source char IS a corpus char). One
  // terminal 6dp rounding; log2 on identical ratios both engines.
  private def pipelineDriftKl(s: SparkSession, dir: String): DataFrame = {
    val chars = docs(s, dir)
      .select(col("source"), posexplode(split(col("text"), ""))
        .as(Seq("i", "ch")))
      .filter(col("ch") =!= "")
      .groupBy(col("source"), col("ch")).agg(count(lit(1)).as("c"))
    val srcTot = chars.groupBy(col("source")).agg(sum(col("c")).as("n_src"))
    val corp = chars.groupBy(col("ch")).agg(sum(col("c")).as("cc"))
    val corpTot = corp.agg(sum(col("cc")).as("n_corp"))
    chars.join(srcTot, Seq("source"))
      .join(broadcast(corp), Seq("ch"))
      .crossJoin(broadcast(corpTot))
      .withColumn("term",
        (col("c") / col("n_src")) *
          log2((col("c") / col("n_src")) / (col("cc") / col("n_corp"))))
      .groupBy(col("source"))
      .agg(max(col("n_src")).as("n_chars"),
        count(lit(1)).as("n_distinct_chars"),
        (round(sum(col("term")), 6) + lit(0.0)).as("kl_bits"))
      .orderBy(col("source"))
  }

  private val pipelineDriftKlSql =
    """WITH ch AS (
      | SELECT source, unnest(string_split(text, '')) AS ch FROM documents),
      |cnt AS (
      | SELECT source, ch, count(*) AS c FROM ch WHERE ch <> ''
      | GROUP BY source, ch),
      |st AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_src FROM cnt
      |       GROUP BY source),
      |co AS (SELECT ch, CAST(sum(c) AS BIGINT) AS cc FROM cnt GROUP BY ch),
      |ct AS (SELECT CAST(sum(cc) AS BIGINT) AS n_corp FROM co),
      |t AS (
      | SELECT cnt.source,
      |  (c * 1.0 / n_src) * log2((c * 1.0 / n_src) / (cc * 1.0 / n_corp))
      |    AS term
      | FROM cnt JOIN st USING (source) JOIN co USING (ch) CROSS JOIN ct)
      |SELECT t.source, max(n_src) AS n_chars,
      | count(*) AS n_distinct_chars,
      | round(sum(term), 6) + 0 AS kl_bits
      |FROM t JOIN st ON t.source = st.source
      |GROUP BY t.source ORDER BY t.source""".stripMargin

  // J25 — the STANDING DIGEST INDEX as a bucketed table (the physical
  // layout J20's SURVEY row promises at 100 TB, made concrete and
  // plan-asserted): the corpus's md5 digests persist bucketed BY
  // DIGEST, so when a crawl batch arrives, the dup-vs-corpus join
  // shuffles ONLY the batch — the corpus side reads its buckets in
  // place, no exchange, however many petabytes it indexes. The
  // require() pins exactly ONE `Exchange hashpartitioning` in the
  // join plan (the batch side) — a regression that re-shuffles the
  // standing index fails correctness, not just a benchmark. Output =
  // J20-shaped per-source admission report (batch size, corpus dups,
  // new docs).
  private def pipelineDigestIndex(s: SparkSession, dir: String): DataFrame = {
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val idxTbl = s"graft_digest_idx_$tag"
    val d = docs(s, dir).select(col("doc_id"), col("source"),
      md5(col("text").cast("binary")).as("digest"),
      (col("doc_id") % 5 === 0).as("is_batch"))
    d.filter(!col("is_batch")).select(col("digest")).distinct()
      .write.bucketBy(8, "digest").sortBy("digest").saveAsTable(idxTbl)
    val prevThreshold = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAutoScan = s.conf.get(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val batch = d.filter(col("is_batch"))
        .select(col("doc_id"), col("source"), col("digest"))
      val joined = batch.join(
        s.table(idxTbl).withColumn("hit", lit(1)), Seq("digest"), "left")
      val plan = joined.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r
        .findAllIn(plan).length
      require(exchanges == 1,
        s"standing digest index must not shuffle: $exchanges exchanges " +
          "in the join plan (want 1 — the batch side only)")
      val out = TmpDir.scratch("digestidx")
      joined.groupBy(col("source"))
        .agg(count(lit(1)).as("n_batch"),
          sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_dup_corpus"),
          sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_new"))
        .withColumn("dup_share",
          round(col("n_dup_corpus") / col("n_batch"), 6) + lit(0.0))
        .orderBy(col("source"))
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out).orderBy(col("source"))
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      s.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prevAutoScan)
      s.sql(s"DROP TABLE IF EXISTS $idxTbl")
    }
  }

  private val pipelineDigestIndexSql =
    """WITH d AS (
      | SELECT doc_id, source, md5(text) AS digest,
      |  doc_id % 5 = 0 AS is_batch
      | FROM documents),
      |corpus AS (SELECT DISTINCT digest FROM d WHERE NOT is_batch),
      |b AS (
      | SELECT source, digest,
      |  digest IN (SELECT digest FROM corpus) AS hit
      | FROM d WHERE is_batch)
      |SELECT source, count(*) AS n_batch,
      | CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_corpus,
      | CAST(sum(CASE WHEN hit THEN 0 ELSE 1 END) AS BIGINT) AS n_new,
      | round(sum(CASE WHEN hit THEN 1 ELSE 0 END) * 1.0 / count(*), 6) + 0
      |   AS dup_share
      |FROM b GROUP BY source ORDER BY source""".stripMargin

  // J26 — CHAT LOSS-MASK planning (SFT preprocessing: train on
  // assistant turns, mask user turns — J23's span corruption is the
  // pretraining sibling): documents are segmented into alternating
  // 12-word turns (user first — the corpus has no real chat markup;
  // the shape is markup-agnostic), and the plan emits per-doc counts
  // plus the trainable-token ratio. Pure positional arithmetic over
  // one explode (pos DIV 12 = turn, turn % 2 = role) with map-side-
  // combining aggregation — the shuffle carries per-doc counters,
  // never tokens. A packer (J11) consumes exactly this shape.
  private def pipelineLossMask(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        posexplode(expr("filter(split(text, ' '), x -> x <> '')"))
          .as(Seq("pos", "w")))
      .withColumn("turn", expr("CAST(pos AS BIGINT) DIV 12"))
      .withColumn("trainable", (col("turn") % 2 === 1).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        (max(col("turn")) + 1).as("n_turns"),
        sum(col("trainable")).as("n_trainable"))
      .withColumn("trainable_ratio",
        round(col("n_trainable").cast("double") / col("n_tokens"), 4))
      .transform(QueryShape.stagedSort(_, col("doc_id")))

  private val pipelineLossMaskSql =
    """WITH t AS (
      | SELECT doc_id, i - 1 AS pos
      | FROM (SELECT doc_id,
      |        list_filter(string_split(text, ' '), x -> x <> '') AS w
      |       FROM documents),
      |  LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) u),
      |m AS (SELECT doc_id, pos // 12 AS turn,
      |       CASE WHEN (pos // 12) % 2 = 1 THEN 1 ELSE 0 END AS trainable
      |      FROM t)
      |SELECT doc_id, count(*) AS n_tokens,
      | max(turn) + 1 AS n_turns,
      | CAST(sum(trainable) AS BIGINT) AS n_trainable,
      | round(CAST(sum(trainable) AS DOUBLE) / count(*), 4) AS trainable_ratio
      |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // J27 — TEMPERATURE-SCALED source mixing (the multilingual-LM
  // α-sampling rule: sample source i ∝ n_i^α, α<1 upweights small
  // sources — J5's domain mix fixes target shares by hand; this
  // DERIVES them from corpus mass): per-source token mass is one
  // hash agg; α = 0.5 so the reweight is sqrt — IEEE-exact in both
  // engines (a general pow(x, 0.7) is not guaranteed correctly
  // rounded cross-libm, which is a parity bug waiting to happen).
  // Output: raw vs temperature share and the effective epoch
  // multiplier each source gets. 20-row frame; shuffle carries
  // (source, count) only.
  private def pipelineMixTemperature(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(col("source"),
        size(expr("filter(split(text, ' '), x -> x <> '')"))
          .cast("long").as("n_tokens"))
      .groupBy(col("source")).agg(sum(col("n_tokens")).as("tokens"))
    val tot = toks.agg(sum(col("tokens")).as("tot_tokens"),
      sum(sqrt(col("tokens"))).as("tot_w"))
    toks.crossJoin(broadcast(tot))
      .withColumn("raw_share", col("tokens").cast("double") / col("tot_tokens"))
      .withColumn("temp_share", sqrt(col("tokens")) / col("tot_w"))
      .select(col("source"), col("tokens"),
        (round(col("raw_share"), 6) + lit(0.0)).as("raw_share"),
        (round(col("temp_share"), 6) + lit(0.0)).as("temp_share"),
        (round(col("temp_share") / col("raw_share"), 4) + lit(0.0))
          .as("epoch_multiplier"))
      .orderBy(col("source"))
  }

  private val pipelineMixTemperatureSql =
    """WITH t AS (
      | SELECT source,
      |  CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> '')))
      |    AS BIGINT) AS tokens
      | FROM documents GROUP BY source),
      |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS tot_tokens,
      |        sum(sqrt(tokens)) AS tot_w FROM t)
      |SELECT source, tokens,
      | round(CAST(tokens AS DOUBLE) / tot_tokens, 6) + 0 AS raw_share,
      | round(sqrt(tokens) / tot_w, 6) + 0 AS temp_share,
      | round((sqrt(tokens) / tot_w) / (CAST(tokens AS DOUBLE) / tot_tokens), 4)
      |   + 0 AS epoch_multiplier
      |FROM t CROSS JOIN tot ORDER BY source""".stripMargin

  // J28 — the CURATION CASCADE end-to-end (the composition the
  // individual gates exist for, with the per-stage accounting a data
  // card reports): exact dedup → boilerplate drop (docs whose
  // duplicated-chunk fraction exceeds 30% — C12's cross-document
  // chunk df, lifted from line-level to doc-level) → quality gate
  // (length + exact-integer punct ratio) → entropy floor (E21's
  // char-Shannon, 6dp-rounded before the 3.9-bit compare so a
  // boundary doc can't flip on libm ulp). Stages chain lazily — the
  // output is a 4-row waterfall (stage, docs_in, docs_out,
  // n_removed); every stage is one hash-agg/semi-join shape that
  // holds at 100 TB, and ORDER MATTERS (exact dedup first shrinks
  // every later stage's work — cascade ordering is a cost decision,
  // cheapest-and-highest-yield first).
  private def pipelineCascade(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    // stage 1: exact dedup
    // each stage frame is pinned: the stage-count report reads every
    // frame twice (as `after` then as the next stage's `before`) and
    // the unpinned chain re-ran all earlier stages per consumer
    val d1 = d.join(
      d.groupBy(md5(col("text")).as("h")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id")),
      Seq("doc_id"), "leftsemi")
      .localCheckpoint(true)
    // stage 2: boilerplate (10-word chunk df over the SURVIVORS)
    val chunks = d1
      .withColumn("ws", expr(
        "filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')"))
      .filter(size(col("ws")) >= 1)
      .withColumn("ci", explode(expr(
        "transform(sequence(0, CAST(ceil(size(ws) / 10.0) AS INT) - 1), " +
          "i -> array_join(slice(ws, i * 10 + 1, 10), ' '))")))
      .select(col("doc_id"), md5(col("ci")).as("lh"))
    val chunkDf = chunks.groupBy(col("lh"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val dupFrac = chunks.join(chunkDf, Seq("lh"))
      .groupBy(col("doc_id"))
      .agg(avg(when(col("df") >= 2, 1.0).otherwise(0.0)).as("dupfrac"))
    val d2 = d1.join(dupFrac.filter(col("dupfrac") > 0.3).select(col("doc_id")),
      Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    // stage 3: quality (exact integers)
    val len = length(col("text")).cast("long")
    val punct = length(regexp_replace(col("text"), "[^.,!?;:]", "")).cast("long")
    val d3 = d2.filter(len >= 100L && punct * 10L <= len)
      .localCheckpoint(true)
    // stage 4: entropy floor — per-doc char counts in one native pass
    // (CharCountHistExpr; same integer counts, so the same float terms
    // sum) instead of a row per CHARACTER + a per-doc window
    val ent = d3
      .select(col("doc_id"), explode(org.apache.spark.sql.GraftBridge.column(
        graft.functions.CharCountHistExpr(
          org.apache.spark.sql.GraftBridge.expression(col("text"))))).as("n"))
      .withColumn("tot", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
      .groupBy(col("doc_id"))
      .agg(round(-sum((col("n") / col("tot"))
        * log(2.0, col("n") / col("tot"))), 6).as("ent"))
    val d4 = d3.join(ent.filter(col("ent") >= 3.9).select(col("doc_id")),
      Seq("doc_id"), "leftsemi")
      .localCheckpoint(true)
    def stageRow(name: String, ord: Int, before: DataFrame, after: DataFrame) =
      before.agg(count(lit(1)).as("docs_in"))
        .crossJoin(after.agg(count(lit(1)).as("docs_out")))
        .select(lit(ord.toLong).as("stage"), lit(name).as("stage_name"),
          col("docs_in"), col("docs_out"),
          (col("docs_in") - col("docs_out")).as("n_removed"))
    stageRow("exact_dedup", 1, d, d1)
      .unionByName(stageRow("boilerplate", 2, d1, d2))
      .unionByName(stageRow("quality", 3, d2, d3))
      .unionByName(stageRow("entropy", 4, d3, d4))
      .orderBy(col("stage"))
  }

  private val pipelineCascadeSql =
    """WITH d AS (SELECT doc_id, text FROM documents),
      |k1 AS (SELECT min(doc_id) AS doc_id FROM d GROUP BY md5(text)),
      |d1 AS (SELECT d.* FROM d JOIN k1 USING (doc_id)),
      |w AS (SELECT doc_id,
      |   list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |     x -> x <> '') AS ws
      | FROM d1),
      |l AS (SELECT doc_id, md5(unnest(CASE WHEN len(ws) >= 1 THEN
      |     list_transform(generate_series(0, CAST(ceil(len(ws) / 10.0) AS INT) - 1),
      |       i -> array_to_string(ws[i * 10 + 1 : i * 10 + 10], ' '))
      |   ELSE [] END)) AS lh
      | FROM w),
      |f AS (SELECT lh, count(DISTINCT doc_id) AS df FROM l GROUP BY lh),
      |p AS (SELECT doc_id,
      |   avg(CASE WHEN df >= 2 THEN 1.0 ELSE 0.0 END) AS dupfrac
      | FROM l JOIN f USING (lh) GROUP BY doc_id),
      |d2 AS (SELECT d1.* FROM d1 LEFT JOIN
      |   (SELECT doc_id FROM p WHERE dupfrac > 0.3) b USING (doc_id)
      | WHERE b.doc_id IS NULL),
      |d3 AS (SELECT * FROM d2 WHERE length(text) >= 100
      |  AND length(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 10
      |      <= length(text)),
      |c AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM d3),
      |cc AS (SELECT doc_id, ch, count(*) AS n FROM c GROUP BY doc_id, ch),
      |tt AS (SELECT doc_id, sum(n) AS tot FROM cc GROUP BY doc_id),
      |e AS (SELECT cc.doc_id,
      |   round(-sum((n * 1.0 / tot) * log2(n * 1.0 / tot)), 6) AS ent
      | FROM cc JOIN tt USING (doc_id) GROUP BY cc.doc_id),
      |d4 AS (SELECT d3.* FROM d3 JOIN
      |   (SELECT doc_id FROM e WHERE ent >= 3.9) g USING (doc_id))
      |SELECT * FROM (
      | SELECT 1 AS stage, 'exact_dedup' AS stage_name,
      |  (SELECT count(*) FROM d) AS docs_in,
      |  (SELECT count(*) FROM d1) AS docs_out,
      |  (SELECT count(*) FROM d) - (SELECT count(*) FROM d1) AS n_removed
      | UNION ALL
      | SELECT 2, 'boilerplate', (SELECT count(*) FROM d1),
      |  (SELECT count(*) FROM d2),
      |  (SELECT count(*) FROM d1) - (SELECT count(*) FROM d2)
      | UNION ALL
      | SELECT 3, 'quality', (SELECT count(*) FROM d2),
      |  (SELECT count(*) FROM d3),
      |  (SELECT count(*) FROM d2) - (SELECT count(*) FROM d3)
      | UNION ALL
      | SELECT 4, 'entropy', (SELECT count(*) FROM d3),
      |  (SELECT count(*) FROM d4),
      |  (SELECT count(*) FROM d3) - (SELECT count(*) FROM d4)
      |) ORDER BY stage""".stripMargin

  // J29 — HYBRID RETRIEVAL end-to-end (the RAG serving path: lexical
  // recall ∪ semantic recall → reciprocal-rank fusion → final list;
  // E19/D1/D15 exist as parts — this is the composition a retrieval
  // user actually runs): lexical = BM25 top-20 for the fixed term
  // query (E19's scoring, one inverted-index shuffle over matching
  // terms only); semantic = exact-cosine top-20 against the query
  // vector (vec_id 0 — vec_id aligns with doc_id in this corpus), a
  // broadcast-query scan; fusion = RRF with k=60 (rank-only — score
  // scales never mix, which is WHY RRF is the default hybrid).
  // Everything is rank arithmetic after two independent top-20s, so
  // the oracle replays both lists and the fusion exactly.
  private def pipelineRetrieval(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("spark", "join", "window", "vector")
    val toks = docs(s, dir).select(col("doc_id"),
      explode(expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')"))
        .as("term"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = toks.filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dl, "doc_id")
      .join(broadcast(dfreq), "term").crossJoin(broadcast(stats))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("sc", col("idf") * (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
    val lexTotal = terms
      .map(t => coalesce(sum(when(col("term") === t, col("sc"))), lit(0.0)))
      .reduce(_ + _)
    val lex = scored.groupBy(col("doc_id")).agg(lexTotal.as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(20)
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("lex_rank"))
    val emb = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("v").as("qv"))
    val sem = emb.crossJoin(broadcast(qv))
      .filter(col("vec_id") =!= 0)
      .withColumn("cos", VectorOps.cosine(col("qv"), col("v")))
      .orderBy(col("cos").desc, col("vec_id")).limit(20)
      .withColumn("sem_rank", row_number().over(
        Window.orderBy(col("cos").desc, col("vec_id"))).cast("long"))
      .select(col("vec_id").as("doc_id"), col("sem_rank"))
    val fused = lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60.0) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("sem_rank")), lit(0.0)))
      .orderBy(col("rrf").desc, col("doc_id")).limit(10)
    fused
      .withColumn("rank", row_number().over(
        Window.orderBy(col("rrf").desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"),
        col("lex_rank"), col("sem_rank"),
        (round(col("rrf"), 6) + lit(0.0)).as("rrf"))
      .orderBy(col("rank"))
  }

  private val pipelineRetrievalSql =
    """WITH toks AS (
      | SELECT doc_id, unnest(list_filter(
      |   string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
      | FROM documents),
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
      |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
      |       WHERE term IN ('spark', 'join', 'window', 'vector')
      |       GROUP BY doc_id, term),
      |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |sc AS (SELECT tf.doc_id, tf.term,
      |   ln(1.0 + (stats.n_docs - dfr.df + 0.5) / (dfr.df + 0.5)) *
      |   (tf.tf * 2.2) /
      |   (tf.tf + CAST(1.2 AS DOUBLE) * (0.25 + 0.75 * dl.dl / stats.avgdl))
      |     AS sc
      | FROM tf JOIN dl USING (doc_id) JOIN dfr USING (term), stats),
      |agg AS (SELECT doc_id,
      |   coalesce(sum(CASE WHEN term = 'spark' THEN sc END), 0.0)
      |   + coalesce(sum(CASE WHEN term = 'join' THEN sc END), 0.0)
      |   + coalesce(sum(CASE WHEN term = 'window' THEN sc END), 0.0)
      |   + coalesce(sum(CASE WHEN term = 'vector' THEN sc END), 0.0) AS bm25
      | FROM sc GROUP BY doc_id),
      |lex AS (SELECT doc_id,
      |   CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
      |     AS lex_rank
      | FROM agg ORDER BY bm25 DESC, doc_id LIMIT 20),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |qv AS (SELECT v AS q FROM e WHERE vec_id = 0),
      |cs AS (SELECT vec_id,
      |   list_dot_product(q, v) /
      |   (sqrt(list_dot_product(q, q)) * sqrt(list_dot_product(v, v))) AS cos
      | FROM e, qv WHERE vec_id <> 0),
      |sem AS (SELECT vec_id AS doc_id,
      |   CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS BIGINT)
      |     AS sem_rank
      | FROM cs ORDER BY cos DESC, vec_id LIMIT 20),
      |fused AS (
      | SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
      |  lex_rank, sem_rank,
      |  coalesce(1.0 / (60.0 + lex_rank), 0.0)
      |   + coalesce(1.0 / (60.0 + sem_rank), 0.0) AS rrf
      | FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
      | ORDER BY rrf DESC, doc_id LIMIT 10)
      |SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT)
      |   AS rank,
      | doc_id, lex_rank, sem_rank, round(rrf, 6) + 0 AS rrf
      |FROM fused ORDER BY rank""".stripMargin

  // J30 — QUALITY-CLASSIFIER TRAINING (the missing half of E20's
  // serving path: DCLM/FineWeb-style curation TRAINS a cheap linear
  // model on document statistics before scoring the corpus with it):
  // full-batch gradient descent on a logistic-style model, run
  // distributed — each iteration is ONE map-side-combining aggregate
  // returning a 5-long gradient + confusion counts (the bounded
  // driver-artifact class, like IvfIndex's k×dim centroids), so T
  // iterations cost T linear passes and shuffle ~7 longs each, at any
  // corpus size. Determinism is engineered, not hoped for:
  //  - features are exact integer per-mille ratios (integer DIV);
  //  - the sigmoid is the algebraic surrogate p = 1/2 + z/(2(1+|z|))
  //    — only +,*,/,abs; no exp(), whose last-ulp disagreement
  //    between the JVM and libm would fork the engines mid-descent;
  //  - per-doc gradient contributions QUANTIZE to integers before
  //    aggregation (an integer sum is order-free under Spark's
  //    arbitrary partition order; a double sum is not);
  //  - the weight update divides exact longs in a pinned association,
  //    so both engines walk bit-identical weights through all T steps.
  // |grad_j| ≤ n·10⁹ fits int64 to n ≈ 9·10⁹ docs; past that the
  // per-partition partials widen to DECIMAL(38,0) (DuckDB already
  // sums that way). Output = the per-iteration weight trace +
  // accuracy curve (label: lang = 'en') a filter-swap review reads.
  private[graft] val ClfEta = 3.0
  private[graft] val ClfIters = 5

  private def pipelineTrainClassifier(s: SparkSession, dir: String): DataFrame = {
    val feats = docs(s, dir)
      .select(
        when(col("lang") === "en", 1L).otherwise(0L).as("y"),
        greatest(length(col("text")).cast("long"), lit(1L)).as("len"),
        length(regexp_replace(col("text"), "[^.,!?;:]", "")).cast("long")
          .as("punct"),
        length(regexp_replace(col("text"), "[^0-9]", "")).cast("long").as("dig"),
        length(regexp_replace(col("text"), "[^ ]", "")).cast("long").as("sp"))
      .select(col("y"),
        expr("least(len, 2000) * 1000 DIV 2000").as("f1"),
        expr("punct * 1000 DIV len").as("f2"),
        expr("dig * 1000 DIV len").as("f3"),
        expr("sp * 1000 DIV len").as("f4"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = Array(0.0, 0.0, 0.0, 0.0, 0.0)
    val trace = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Double, Double, Double, Double, Double, Long, Long, Long, Long)]
    (0 to ClfIters).foreach { t =>
      // z mirrors the oracle's association exactly:
      // ((((w0·1000 + w1·f1) + w2·f2) + w3·f3) + w4·f4) / 1000
      val z = (((lit(w(0)) * lit(1000.0)
        + lit(w(1)) * col("f1"))
        + lit(w(2)) * col("f2"))
        + lit(w(3)) * col("f3")
        + lit(w(4)) * col("f4")) / lit(1000.0)
      val stats = feats
        .withColumn("z", z)
        .withColumn("p",
          lit(0.5) + (lit(0.5) * col("z")) / (lit(1.0) + abs(col("z"))))
        .withColumn("dq", floor((col("p") - col("y")) * lit(1000000.0) + lit(0.5)))
        .agg(count(lit(1)).as("n"),
          sum(col("y")).as("n_pos"),
          sum(col("dq")).as("sd"),
          sum(col("dq") * col("f1")).as("g1"),
          sum(col("dq") * col("f2")).as("g2"),
          sum(col("dq") * col("f3")).as("g3"),
          sum(col("dq") * col("f4")).as("g4"),
          sum(when(col("z") >= 0.0, 1L).otherwise(0L)).as("n_pred_pos"),
          sum(when((col("z") >= 0.0) === (col("y") === 1L), 1L).otherwise(0L))
            .as("n_correct"))
        .collect()(0)
      val n = stats.getAs[Long]("n")
      trace += ((t.toLong, w(0), w(1), w(2), w(3), w(4), n,
        stats.getAs[Long]("n_pos"), stats.getAs[Long]("n_pred_pos"),
        stats.getAs[Long]("n_correct")))
      if (t < ClfIters) {
        val grads = Array(stats.getAs[Long]("sd") * 1000L,
          stats.getAs[Long]("g1"), stats.getAs[Long]("g2"),
          stats.getAs[Long]("g3"), stats.getAs[Long]("g4"))
        var j = 0
        while (j < 5) {
          w(j) = w(j) - ClfEta * (grads(j).toDouble / n.toDouble / 1.0e9)
          j += 1
        }
      }
    }
    feats.unpersist()
    import s.implicits._
    trace.toSeq
      .toDF("iter", "rw0", "rw1", "rw2", "rw3", "rw4", "n", "n_pos",
        "n_pred_pos", "n_correct")
      .select(col("iter"),
        (round(col("rw0"), 6) + lit(0.0)).as("w0"),
        (round(col("rw1"), 6) + lit(0.0)).as("w1"),
        (round(col("rw2"), 6) + lit(0.0)).as("w2"),
        (round(col("rw3"), 6) + lit(0.0)).as("w3"),
        (round(col("rw4"), 6) + lit(0.0)).as("w4"),
        col("n"), col("n_pos"), col("n_pred_pos"), col("n_correct"),
        (round(col("n_correct").cast("double") / col("n"), 4) + lit(0.0))
          .as("acc"))
      .orderBy(col("iter"))
  }

  // The oracle unrolls the same descent: i{t} carries the weights into
  // step t, s{t} is the one-aggregate stats pass, and every arithmetic
  // shape (association, integer DIV, floor-quantized dq, update order)
  // matches the Spark side token for token.
  private val pipelineTrainClassifierSql: String = {
    val feats =
      """f AS (
        | SELECT CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y,
        |   least(greatest(CAST(length(text) AS BIGINT), 1), 2000) * 1000 // 2000
        |     AS f1,
        |   CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT)
        |     * 1000 // greatest(CAST(length(text) AS BIGINT), 1) AS f2,
        |   CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)
        |     * 1000 // greatest(CAST(length(text) AS BIGINT), 1) AS f3,
        |   CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS BIGINT)
        |     * 1000 // greatest(CAST(length(text) AS BIGINT), 1) AS f4
        | FROM documents)""".stripMargin
    def statsCte(t: Int): String =
      s"""s$t AS (
         | SELECT count(*) AS n,
         |  CAST(sum(y) AS BIGINT) AS n_pos,
         |  CAST(sum(dq) AS BIGINT) AS sd,
         |  CAST(sum(dq * f1) AS BIGINT) AS g1,
         |  CAST(sum(dq * f2) AS BIGINT) AS g2,
         |  CAST(sum(dq * f3) AS BIGINT) AS g3,
         |  CAST(sum(dq * f4) AS BIGINT) AS g4,
         |  CAST(sum(CASE WHEN z >= 0.0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pred_pos,
         |  CAST(sum(CASE WHEN (z >= 0.0) = (y = 1) THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_correct
         | FROM (
         |  SELECT y, f1, f2, f3, f4, z,
         |   CAST(floor(((0.5 + (0.5 * z) / (1.0 + abs(z))) - y) * 1000000.0
         |     + 0.5) AS BIGINT) AS dq
         |  FROM (
         |   SELECT y, f1, f2, f3, f4,
         |    ((((w0 * 1000.0 + w1 * f1) + w2 * f2) + w3 * f3) + w4 * f4)
         |      / 1000.0 AS z
         |   FROM f CROSS JOIN i$t)))""".stripMargin
    def updateCte(t: Int): String =
      s"""i${t + 1} AS (
         | SELECT
         |  w0 - 3.0 * (CAST(sd * 1000 AS DOUBLE) / n / 1000000000.0) AS w0,
         |  w1 - 3.0 * (CAST(g1 AS DOUBLE) / n / 1000000000.0) AS w1,
         |  w2 - 3.0 * (CAST(g2 AS DOUBLE) / n / 1000000000.0) AS w2,
         |  w3 - 3.0 * (CAST(g3 AS DOUBLE) / n / 1000000000.0) AS w3,
         |  w4 - 3.0 * (CAST(g4 AS DOUBLE) / n / 1000000000.0) AS w4
         | FROM i$t CROSS JOIN s$t)""".stripMargin
    def outRow(t: Int): String =
      s"""SELECT CAST($t AS BIGINT) AS iter,
         | round(w0, 6) + 0 AS w0, round(w1, 6) + 0 AS w1,
         | round(w2, 6) + 0 AS w2, round(w3, 6) + 0 AS w3,
         | round(w4, 6) + 0 AS w4,
         | n, n_pos, n_pred_pos, n_correct,
         | round(CAST(n_correct AS DOUBLE) / n, 4) + 0 AS acc
         |FROM i$t CROSS JOIN s$t""".stripMargin
    val init = "i0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3, 0.0 AS w4)"
    val ctes = (feats +: init +: (0 to ClfIters).flatMap { t =>
      if (t < ClfIters) Seq(statsCte(t), updateCte(t)) else Seq(statsCte(t))
    }).mkString(",\n")
    val rows = (0 to ClfIters).map(outRow).mkString("\nUNION ALL\n")
    s"WITH $ctes\n$rows\nORDER BY iter"
  }

  // J31 — SHUFFLE-SKEW AUDIT (the detection side of what q59's
  // salting and AQE's skew-join FIX: before a 100 TB join you ask
  // "how do this key's rows land across hash partitions, and is any
  // single key or partition hot enough to need salting?"). Per-key
  // exact counts (one map-side-combining agg — the only O(data)
  // pass; only (key, count) rows shuffle) land in P=32 modeled hash
  // partitions via an engine-portable affine hash (Knuth multiplier
  // over a prime-reduced key — Spark's Murmur3 isn't replayable in
  // the oracle, and the MODEL of hash placement is what the audit
  // needs, not Spark's exact bucketing). Output = the full 32-row
  // partition spine (empty partitions are a finding, not a missing
  // row): key count, row load, load share, heaviest key, and the
  // exact integer verdict n_rows·P > 2·total (load > 2× mean ⇒
  // salt). At 100 TB the per-key agg is the standard pre-join stats
  // pass; everything after it is ≤ P rows.
  private def pipelineSkewAudit(s: SparkSession, dir: String): DataFrame = {
    val keyCounts = Tables.load(s, dir, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      .withColumn("part_id",
        expr("((user_id % 1000000007) * 2654435761) % 2147483647 % 32"))
    // pinned: the spine join and the total both read this ≤32-row
    // frame — unpinned, each re-runs the O(data) per-key count.
    val perPart = keyCounts.groupBy(col("part_id"))
      .agg(count(lit(1)).as("n_keys"), sum(col("c")).as("n_rows"),
        max(col("c")).as("max_key_rows"))
      .localCheckpoint(true)
    val tot = perPart.agg(sum(col("n_rows")).as("total"))
    s.range(0, 32).select(col("id").as("part_id"))
      .join(perPart, Seq("part_id"), "left")
      .crossJoin(broadcast(tot))
      .select(col("part_id"),
        coalesce(col("n_keys"), lit(0L)).as("n_keys"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        (round(coalesce(col("n_rows"), lit(0L)) * lit(1.0) / col("total"), 4)
          + lit(0.0)).as("load_share"),
        coalesce(col("max_key_rows"), lit(0L)).as("max_key_rows"),
        (coalesce(col("n_rows"), lit(0L)) * 32 > col("total") * 2).as("skewed"))
      .orderBy(col("part_id"))
  }

  private val pipelineSkewAuditSql =
    """WITH kc AS (
      | SELECT user_id, count(*) AS c FROM events GROUP BY user_id),
      |pk AS (
      | SELECT ((user_id % 1000000007) * 2654435761) % 2147483647 % 32 AS part_id,
      |  c
      | FROM kc),
      |agg AS (
      | SELECT part_id, count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows,
      |  max(c) AS max_key_rows
      | FROM pk GROUP BY part_id),
      |tot AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total FROM agg),
      |spine AS (SELECT CAST(unnest(generate_series(0, 31)) AS BIGINT) AS part_id)
      |SELECT s.part_id, coalesce(n_keys, 0) AS n_keys,
      | coalesce(n_rows, 0) AS n_rows,
      | round(coalesce(n_rows, 0) * 1.0 / total, 4) + 0 AS load_share,
      | coalesce(max_key_rows, 0) AS max_key_rows,
      | coalesce(n_rows, 0) * 32 > total * 2 AS skewed
      |FROM spine s LEFT JOIN agg ON s.part_id = agg.part_id CROSS JOIN tot
      |ORDER BY s.part_id""".stripMargin

  // J32 — SEMANTIC decontamination (J2's n-gram benchmark-overlap
  // check lifted to EMBEDDING space — the second decontamination
  // pass modern curation runs, catching paraphrased/translated eval
  // leakage that shares no 8-gram with the benchmark: the
  // phi-1/"Textbooks Are All You Need" embedding-similarity filter
  // shape). Probe set = eval benchmark vectors (vec_id < 20, J2's
  // probe convention); corpus = everything else. The 100 TB shape is
  // the whole point: eval sets are thousands of vectors while the
  // corpus is unbounded, so the probe side BROADCASTS (O(probes·dim))
  // and the corpus is scanned ONCE, map-only — cosine against every
  // probe, flag at the data-calibrated threshold — with only FLAGGED
  // (vec_id, probe_id) pairs ever reaching the reporting sort's
  // shuffle. No corpus-sized shuffle exists in the plan. The
  // threshold compares 4dp-ROUNDED cosine (J12's convention) so a
  // boundary pair can't flip between engines on float division ulp;
  // dot products are sequential-fold DotProductExpr = DuckDB
  // list_dot_product bit-for-bit.
  private def pipelineSemanticContamination(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val probe = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    val corpus = e.filter(col("vec_id") >= 20)
    corpus.crossJoin(broadcast(probe))
      .withColumn("cos_sim",
        round(VectorOps.cosine(col("pv"), col("v")), 4) + lit(0.0))
      .filter(col("cos_sim") >= 0.35)
      .select(col("vec_id"), col("probe_id"), col("cos_sim"))
      .orderBy(col("vec_id"), col("probe_id"))
  }

  private val pipelineSemanticContaminationSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 20),
      |c AS (SELECT vec_id, v FROM e WHERE vec_id >= 20),
      |s AS (SELECT vec_id, probe_id,
      |  round(list_dot_product(pv, v) /
      |    (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(v, v))), 4) + 0
      |    AS cos_sim
      | FROM c CROSS JOIN q)
      |SELECT vec_id, probe_id, cos_sim FROM s
      |WHERE cos_sim >= 0.35
      |ORDER BY vec_id, probe_id""".stripMargin

  // J33 — REJECTION SAMPLING with Horvitz-Thompson reweighting: the
  // unbiased quality-proportional downsample a pretraining mix runs
  // instead of a hard quality cutoff (keep doc with probability p(doc),
  // weight survivors 1/p — estimators over the sample stay unbiased for
  // the corpus). p here is a length-derived quality proxy clamped to
  // [0.1, 0.9]; the accept draw is the house mod-M hash reduced BEFORE
  // squaring (the KeyMagnitudeSpec rule), so the whole pass is one
  // deterministic map + one hash agg — no RNG state, no shuffle of
  // text, and DuckDB replays every accept decision bit-for-bit. The
  // ht_ok boolean asserts the reweighted doc-count estimator landed
  // within 5% of the true count — the property that makes this
  // REJECTION sampling rather than filtering.
  private def pipelineRejectionSample(s: SparkSession, dir: String): DataFrame = {
    val M = 1000003L
    val dm = col("doc_id") % M
    val u = ((((dm * dm) % M) * 7919L + dm * 104729L + 12345L) % M)
      .cast("double") / M
    val p = least(lit(0.9), greatest(lit(0.1),
      col("n_chars").cast("double") / 500.0))
    val d = docs(s, dir)
      .withColumn("p", p).withColumn("keep", u < p)
    d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        round(sum(when(col("keep"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 4).as("kept_frac"),
        round(sum(when(col("keep"), lit(1.0) / col("p"))
          .otherwise(lit(0.0))), 2).as("ht_estimate"))
      .withColumn("ht_ok",
        abs(col("ht_estimate") - col("n_docs")) <= col("n_docs") * 0.05)
      .select(col("source"), col("n_docs"), col("n_kept"), col("kept_frac"),
        col("ht_estimate"), col("ht_ok"))
      .orderBy(col("source"))
  }

  private val pipelineRejectionSampleSql =
    """WITH d AS (
      | SELECT source, n_chars,
      |  ((((doc_id % 1000003) * (doc_id % 1000003)) % 1000003) * 7919
      |    + (doc_id % 1000003) * 104729 + 12345) % 1000003 AS h,
      |  least(0.9, greatest(0.1, CAST(n_chars AS DOUBLE) / 500.0)) AS p
      | FROM documents),
      |k AS (SELECT source, p, CAST(h AS DOUBLE) / 1000003 < p AS keep FROM d)
      |SELECT source, count(*) AS n_docs,
      | CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      | round(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
      |   / count(*), 4) AS kept_frac,
      | round(sum(CASE WHEN keep THEN 1.0 / p ELSE 0.0 END), 2) AS ht_estimate,
      | abs(round(sum(CASE WHEN keep THEN 1.0 / p ELSE 0.0 END), 2) - count(*))
      |   <= count(*) * 0.05 AS ht_ok
      |FROM k GROUP BY source ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_rejection_sample" -> (pipelineRejectionSample _),
    "pipeline_semantic_contamination" -> (pipelineSemanticContamination _),
    "pipeline_skew_audit" -> (pipelineSkewAudit _),
    "pipeline_train_classifier" -> (pipelineTrainClassifier _),
    "pipeline_retrieval" -> (pipelineRetrieval _),
    "pipeline_cascade" -> (pipelineCascade _),
    "pipeline_mix_temperature" -> (pipelineMixTemperature _),
    "pipeline_loss_mask" -> (pipelineLossMask _),
    "pipeline_digest_index" -> (pipelineDigestIndex _),
    "pipeline_drift_kl" -> (pipelineDriftKl _),
    "pipeline_t5_spans" -> (pipelineT5Spans _),
    "pipeline_shard_assign" -> (pipelineShardAssign _),
    "pipeline_global_shuffle" -> (pipelineGlobalShuffle _),
    "pipeline_incremental_dedup" -> (pipelineIncrementalDedup _),
    "pipeline_profile" -> (pipelineProfile _),
    "pipeline_chunk" -> (pipelineChunk _),
    "pipeline_quality_calibration" -> (pipelineQualityCalibration _),
    "pipeline_dsir" -> (pipelineDsir _),
    "pipeline_split" -> (pipelineSplit _),
    "pipeline_url_dedup" -> (pipelineUrlDedup _),
    "pipeline_triangles" -> (pipelineTriangles _),
    "pipeline_pack_sequences" -> (pipelinePackSequences _),
    "pipeline_semdedup" -> (pipelineSemdedup _),
    "pipeline_pagerank" -> (pipelinePagerank _),
    "pipeline_curate" -> (pipelineCurate _),
    "pipeline_mixture_epochs" -> (pipelineMixtureEpochs _),
    "pipeline_curriculum" -> (pipelineCurriculum _),
    "pipeline_neardup_select" -> (pipelineNeardupSelect _),
    "pipeline_domain_mix" -> (pipelineDomainMix _),
    "pipeline_stratified_sample" -> (pipelineStratifiedSample _),
    "pipeline_contamination" -> (pipelineContamination _),
    "pipeline_quality_gate" -> (pipelineQualityGate _),
    "pipeline_token_budget" -> (pipelineTokenBudget _))

  val oracles: Map[String, String] = Map(
    "pipeline_rejection_sample" -> pipelineRejectionSampleSql,
    "pipeline_semantic_contamination" -> pipelineSemanticContaminationSql,
    "pipeline_skew_audit" -> pipelineSkewAuditSql,
    "pipeline_train_classifier" -> pipelineTrainClassifierSql,
    "pipeline_loss_mask" -> pipelineLossMaskSql,
    "pipeline_mix_temperature" -> pipelineMixTemperatureSql,
    "pipeline_cascade" -> pipelineCascadeSql,
    "pipeline_retrieval" -> pipelineRetrievalSql,
    "pipeline_digest_index" -> pipelineDigestIndexSql,
    "pipeline_drift_kl" -> pipelineDriftKlSql,
    "pipeline_t5_spans" -> pipelineT5SpansSql,
    "pipeline_shard_assign" -> pipelineShardAssignSql,
    "pipeline_global_shuffle" -> pipelineGlobalShuffleSql,
    "pipeline_incremental_dedup" -> pipelineIncrementalDedupSql,
    "pipeline_profile" -> pipelineProfileSql,
    "pipeline_chunk" -> pipelineChunkSql,
    "pipeline_quality_calibration" -> pipelineQualityCalibrationSql,
    "pipeline_dsir" -> pipelineDsirSql,
    "pipeline_split" -> pipelineSplitSql,
    "pipeline_url_dedup" -> pipelineUrlDedupSql,
    "pipeline_triangles" -> pipelineTrianglesSql,
    "pipeline_pack_sequences" -> pipelinePackSequencesSql,
    "pipeline_semdedup" -> pipelineSemdedupSql,
    "pipeline_pagerank" -> pipelinePagerankSql,
    "pipeline_curate" -> pipelineCurateSql,
    "pipeline_mixture_epochs" -> pipelineMixtureEpochsSql,
    "pipeline_curriculum" -> pipelineCurriculumSql,
    "pipeline_neardup_select" -> pipelineNeardupSelectSql,
    "pipeline_domain_mix" -> pipelineDomainMixSql,
    "pipeline_stratified_sample" -> pipelineStratifiedSampleSql,
    "pipeline_contamination" -> pipelineContaminationSql,
    "pipeline_quality_gate" -> pipelineQualityGateSql,
    "pipeline_token_budget" -> pipelineTokenBudgetSql)
}
