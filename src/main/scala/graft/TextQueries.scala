package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis suite (SURVEY §2.E) over `documents`. All scoring is
  * built-in string/regexp expressions (codegen'd, UDF-free) so the
  * same computation is expressible in the DuckDB oracle.
  */
object TextQueries {

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  /** Occurrences of a literal in text via length-difference. */
  private[graft] def hits(c: Column, lit0: String): Column =
    ((length(c) - length(regexp_replace(c, java.util.regex.Pattern.quote(lit0), ""))) / lit0.length).cast("long")

  private[graft] def hitsSql(expr0: String, lit0: String): String =
    s"CAST((length($expr0) - length(replace($expr0, '$lit0', ''))) / ${lit0.length} AS BIGINT)"

  private[graft] val Profiles: Map[String, Seq[String]] = Map(
    "en" -> Seq(" the ", " and ", " a "),
    "es" -> Seq(" el ", " la ", " de "),
    "fr" -> Seq(" le ", " et ", " un "),
    "de" -> Seq(" der ", " und ", " ein "))

  // E1 — stopword-profile language ID with deterministic tiebreak.
  // r10: the 12 per-literal hits() passes (12 regexp_replace scans +
  // 12 string allocations per row, re-run by the ORDER BY's range
  // sampling pass) measured 14.3x at sf100 — GC-bound, not I/O.
  // LiteralHitsExpr counts all 12 literals in one lowercase pass;
  // same non-overlapping greedy counts, ASCII-corpus precondition
  // stated on the expression.
  private def textLangid(s: SparkSession, dir: String): DataFrame = {
    val langs = Profiles.keys.toSeq.sorted // stable literal order
    val allWords = langs.flatMap(l => Profiles(l))
    val offset = langs.zip(langs.scanLeft(0)(_ + Profiles(_).size)).toMap
    val hitsArr = org.apache.spark.sql.GraftBridge.column(
      graft.functions.LiteralHitsExpr(
        org.apache.spark.sql.GraftBridge.expression(col("text")), allWords))
    val scores: Map[String, Column] = langs.map { l =>
      l -> Profiles(l).indices
        .map(k => element_at(col("h"), offset(l) + k + 1))
        .reduce(_ + _)
    }.toMap
    val pred = when(scores("en") >= scores("es") && scores("en") >= scores("fr") && scores("en") >= scores("de"), "en")
      .when(scores("es") >= scores("fr") && scores("es") >= scores("de"), "es")
      .when(scores("fr") >= scores("de"), "fr")
      .otherwise("de")
    docs(s, dir).select(col("doc_id"), hitsArr.as("h"))
      .select(col("doc_id"), pred.as("pred_lang"),
        scores("en").as("score_en"), scores("es").as("score_es"),
        scores("fr").as("score_fr"), scores("de").as("score_de"))
      .orderBy(col("doc_id"))
  }

  private val textLangidSql = {
    val p = "concat(' ', lower(text), ' ')"
    def score(words: Seq[String]) = words.map(w => hitsSql(p, w)).mkString(" + ")
    val en = score(Profiles("en")); val es = score(Profiles("es"))
    val fr = score(Profiles("fr")); val de = score(Profiles("de"))
    s"""WITH sc AS (
       | SELECT doc_id, $en AS score_en, $es AS score_es, $fr AS score_fr, $de AS score_de
       | FROM documents
       |)
       |SELECT doc_id,
       | CASE WHEN score_en >= score_es AND score_en >= score_fr AND score_en >= score_de THEN 'en'
       |      WHEN score_es >= score_fr AND score_es >= score_de THEN 'es'
       |      WHEN score_fr >= score_de THEN 'fr'
       |      ELSE 'de' END AS pred_lang,
       | score_en, score_es, score_fr, score_de
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  // E6 — character-trigram-PROFILE language ID: per-language weighted
  // trigram profiles in a small dimension table, scored with one
  // explode + broadcast join + two hash aggregations — the shape that
  // scales (E1's per-literal scan passes grow linearly with profile
  // size; this is O(text) regardless of how many grams profiles hold).
  // Integer weights keep the scoring exact on both engines.
  private val NgramProfiles: Seq[(String, String, Long)] = Seq(
    ("en", "the", 10L), ("en", "he ", 8L), ("en", " th", 8L), ("en", "ing", 7L),
    ("en", "and", 7L), ("en", " of", 5L), ("en", "ion", 4L), ("en", " an", 4L),
    ("es", " de", 9L), ("es", "de ", 8L), ("es", "la ", 7L), ("es", " la", 6L),
    ("es", "os ", 6L), ("es", "que", 6L), ("es", "el ", 5L), ("es", "as ", 4L),
    ("fr", " le", 8L), ("fr", "le ", 8L), ("fr", "es ", 7L), ("fr", "ent", 6L),
    ("fr", " et", 6L), ("fr", "de ", 5L), ("fr", "que", 4L), ("fr", "ou ", 4L),
    ("de", "der", 9L), ("de", "ein", 8L), ("de", "ich", 8L), ("de", "und", 8L),
    ("de", "sch", 7L), ("de", "die", 7L), ("de", "en ", 6L), ("de", " di", 5L))

  /** Profile trigram HITS per doc as (doc_id, code): one compiled
    * pass per text emitting only windows whose base-131 code is in
    * the profile set ([[graft.functions.GramCodeHitsExpr]]) — the
    * exploded-string shape this replaces materialized length(text)
    * rows per doc and dropped ~99.9% of them in the profile join
    * (39.7 s of text_langid_ngram's sf1 time). Injective on ASCII ⇒
    * per-(doc, gram) hit counts equal the string join's.
    */
  private def profileHits(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .filter(length(col("text")) >= 3)
      .select(col("doc_id"), explode(org.apache.spark.sql.GraftBridge.column(
        graft.functions.GramCodeHitsExpr(
          org.apache.spark.sql.GraftBridge.expression(col("text")), 3,
          NgramProfiles.map(t => graft.functions.GramCodeHitsExpr.code(t._2)))))
        .as("code"))

  private def profileCodes(s: SparkSession): DataFrame = {
    import s.implicits._
    NgramProfiles.map { case (lang, gram, weight) =>
      (lang, graft.functions.GramCodeHitsExpr.code(gram), weight)
    }.toDF("lang", "code", "weight")
  }

  private def textLangidNgram(s: SparkSession, dir: String): DataFrame = {
    val scores = profileHits(s, dir)
      .join(broadcast(profileCodes(s)), Seq("code"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("weight")).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("lang"))
    val best = scores.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lang"), col("score"))
    docs(s, dir).select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lang"), lit("en")).as("pred_lang"),
        coalesce(col("score"), lit(0L)).as("top_score"))
      .orderBy(col("doc_id"))
  }

  private val textLangidNgramSql = {
    val vals = NgramProfiles.map { case (l, g, w) => s"('$l', '$g', $w)" }
      .mkString(", ")
    s"""WITH prof(lang, gram, weight) AS (VALUES $vals),
       |g AS (
       | SELECT doc_id, unnest(list_transform(generate_series(1, length(text) - 2),
       |   i -> substring(lower(text), i, 3))) AS gram
       | FROM documents WHERE length(text) >= 3
       |),
       |h AS (
       | SELECT doc_id, lang, CAST(sum(weight) AS BIGINT) AS score
       | FROM g JOIN prof USING (gram) GROUP BY doc_id, lang
       |),
       |b AS (
       | SELECT doc_id, lang, score,
       |   row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rk
       | FROM h
       |)
       |SELECT d.doc_id, coalesce(b.lang, 'en') AS pred_lang,
       |  coalesce(b.score, 0) AS top_score
       |FROM documents d LEFT JOIN (SELECT * FROM b WHERE rk = 1) b USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Best-scoring profile language per doc (E6's decision, factored
    * for reuse by the per-language vocabularies): docs without a
    * profile hit (or shorter than one trigram) default to "en".
    */
  private def predLang(s: SparkSession, dir: String): DataFrame = {
    val scores = profileHits(s, dir)
      .join(broadcast(profileCodes(s)), Seq("code"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("weight")).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("lang"))
    val best = scores.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1).select(col("doc_id"), col("lang"))
    docs(s, dir).select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lang"), lit("en")).as("pred_lang"))
  }

  // E7 — BPE vocabulary-merge training (graft.operators.BpeTrainer):
  // 8 rounds of count-pairs → pick-max → greedy left-to-right merge
  // over the word-type table. The oracle replays the ENTIRE training
  // loop — pair selection included — as chained DuckDB CTEs, so the
  // merge table must match rank for rank, pair for pair, count for
  // count.
  private val BpeMerges = 8

  private def textBpe(s: SparkSession, dir: String): DataFrame = {
    val words = docs(s, dir)
      .select(explode(expr(
        "filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '' AND length(x) >= 2)"))
        .as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    graft.operators.BpeTrainer.train(words, BpeMerges)
      .orderBy(col("merge_rank"))
  }

  /** The BPE training loop as chained DuckDB CTEs: w0 (char-tokenized
    * word types), per-round pair counts c_k, winners b_k, and merged
    * word tables w_{k+1}. `includeFinalWords` also emits w{BpeMerges}
    * (the fully-encoded types) for the encode oracle.
    */
  private def bpeSqlChain(includeFinalWords: Boolean): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH w0 AS (
        | SELECT word, CAST(count(*) AS BIGINT) AS cnt,
        |   list_transform(generate_series(1, length(word)),
        |     i -> substring(word, i, 1)) AS toks
        | FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |         x -> x <> '' AND length(x) >= 2)) AS word
        |       FROM documents)
        | GROUP BY word
        |)""".stripMargin)
    for (k <- 0 until BpeMerges) {
      sb.append(s""",
        |c$k AS (
        | SELECT p.pa AS pa, p.pb AS pb, CAST(sum(cnt) AS BIGINT) AS weight
        | FROM (SELECT cnt, unnest(list_transform(generate_series(1, len(toks) - 1),
        |         i -> {'pa': toks[i], 'pb': toks[i + 1]})) AS p
        |       FROM w$k WHERE len(toks) >= 2) px
        | GROUP BY 1, 2
        |),
        |b$k AS (SELECT pa, pb, weight FROM c$k ORDER BY weight DESC, pa, pb LIMIT 1)""".stripMargin)
      if (k < BpeMerges - 1 || includeFinalWords) {
        sb.append(s""",
          |w${k + 1} AS (
          | SELECT w.word, w.cnt,
          |   list_reduce(
          |     list_prepend(CAST([] AS VARCHAR[]), list_transform(w.toks, x -> [x])),
          |     (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = b.pa AND x[1] = b.pb
          |                 THEN list_append(acc[1:len(acc) - 1], b.pa || b.pb)
          |                 ELSE list_append(acc, x[1]) END) AS toks
          | FROM w$k w, b$k b
          |)""".stripMargin)
      }
    }
    sb.toString
  }

  private val textBpeSql: String =
    bpeSqlChain(includeFinalWords = false) +
      "\n" + (0 until BpeMerges).map(k =>
        s"SELECT CAST(${k + 1} AS BIGINT) AS merge_rank, pa, pb, " +
          s"pa || pb AS merged, weight FROM b$k")
      .mkString("", "\nUNION ALL\n", "\nORDER BY merge_rank")

  // E8 — BPE ENCODING with the trained vocabulary: the learned merge
  // table (a handful of driver-side rows, the same O(rounds) sync the
  // training loop already pays) is applied rank-by-rank to the word-
  // TYPE table — the classic BPE trick: encoding cost scales with
  // distinct words, not corpus tokens — then joined back to per-doc
  // word occurrences for token counts. The oracle replays training AND
  // encoding: the same CTE chain extended to the final word table,
  // joined to each document's words.
  private def textBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val docWords = docs(s, dir)
      .select(col("doc_id"), explode(expr(
        "filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '' AND length(x) >= 2)"))
        .as("word"))
    val wordCounts = docWords.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val merges = graft.operators.BpeTrainer.train(wordCounts, BpeMerges)
      .orderBy(col("merge_rank")).select(col("pa"), col("pb"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val tokLen = graft.operators.BpeTrainer.encode(
      wordCounts.select(col("word")), merges)
    docWords.join(tokLen, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word")).cast("long")).as("n_chars"),
        sum(col("n_toks")).as("n_bpe_tokens"))
      .withColumn("compression",
        round(col("n_chars").cast("double") / col("n_bpe_tokens"), 4))
      .orderBy(col("doc_id"))
  }

  private val textBpeEncodeSql: String =
    bpeSqlChain(includeFinalWords = true) + s""",
      |docw AS (
      | SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |   x -> x <> '' AND length(x) >= 2)) AS word
      | FROM documents)
      |SELECT doc_id, count(*) AS n_words,
      | CAST(sum(length(word)) AS BIGINT) AS n_chars,
      | CAST(sum(len(toks)) AS BIGINT) AS n_bpe_tokens,
      | round(sum(length(word)) / sum(len(toks)), 4) AS compression
      |FROM docw JOIN w$BpeMerges USING (word)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // E16 — ENCODE-ONLY BPE through the session ARTIFACT cache
  // (BpeTrainer.Artifacts): the merge table trains at most once per
  // (corpus, rounds) per session and every later run is pure encode —
  // the real tokenizer deployment shape (a vocabulary is a build
  // artifact, not a per-query computation). Output is a vocabulary
  // usage report: the top 20 encoded pieces by corpus occurrence, with
  // the distinct word types each appears in. The oracle replays
  // training + encoding as the same CTE chain (DuckDB has no session
  // cache — the VALUES must match whether or not the Spark side
  // retrained, which is exactly what makes the cache safe to use).
  // TextSpec asserts the skip-training behavior directly.
  private def textBpeArtifact(s: SparkSession, dir: String): DataFrame = {
    val docWords = docs(s, dir)
      .select(col("doc_id"), explode(expr(
        "filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '' AND length(x) >= 2)"))
        .as("word"))
    val wordCounts = docWords.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val merges = graft.operators.BpeTrainer.Artifacts
      .mergesFor(wordCounts, s"bpe:$dir", BpeMerges)
    // The usage report lives entirely at the word-TYPE level: an
    // occurrence-exploded token count is Σ_type cnt · multiplicity, so
    // encoding the (word, cnt) type table in place and weighting by cnt
    // is algebraically identical to re-joining the full per-occurrence
    // corpus — while touching |types| rows instead of |occurrences|.
    // explode_outer, NOT explode: a plain explode gets an inferred
    // size(toks)>0 filter pushed below the type aggregate, re-running
    // the encode fold per corpus occurrence (the 14 s trap documented
    // on BpeTrainer.encodeTokens); outer generates infer no filter,
    // and toks is never empty for the length>=2 words kept here.
    graft.operators.BpeTrainer.encodeTokens(wordCounts, merges)
      .select(col("word"), col("cnt"), explode_outer(col("toks")).as("tok"))
      .groupBy(col("tok"))
      .agg(sum(col("cnt")).as("n_occurrences"),
        countDistinct(col("word")).as("n_types"))
      .orderBy(col("n_occurrences").desc, col("tok"))
      .limit(20)
  }

  private val textBpeArtifactSql: String =
    bpeSqlChain(includeFinalWords = true) + s""",
      |docw AS (
      | SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |   x -> x <> '' AND length(x) >= 2)) AS word
      | FROM documents),
      |pieces AS (
      | SELECT d.word AS word, unnest(w.toks) AS tok
      | FROM docw d JOIN w$BpeMerges w USING (word))
      |SELECT tok, count(*) AS n_occurrences,
      | CAST(count(DISTINCT word) AS BIGINT) AS n_types
      |FROM pieces GROUP BY tok
      |ORDER BY n_occurrences DESC, tok LIMIT 20""".stripMargin

  // E15 — HASH-TRICK FEATURE VECTORIZER (the "hashing vectorizer" of
  // scikit/Vowpal lineage): tokens map to a fixed 64-bucket feature
  // space through the repo's portable polynomial hash (base 31 mod
  // 1e9+7 — the same family the MinHash/SimHash oracles replay), so
  // the featurization needs no vocabulary, no fit pass, and no
  // driver state — the property that makes it THE text featurizer at
  // 100 TB. Per doc: bucket counts → nnz, total, argmax bucket
  // (ties to the lowest bucket via struct ordering), exact-integer
  // L2 norm. One explode + two hash aggs; fully oracle-replayed.
  private def textHashFeatures(s: SparkSession, dir: String): DataFrame = {
    // r10: one native pass (HashFeaturesExpr — the oracle's own
    // (acc·31+c) mod 1e9+7 mod 64 fold, ASCII-corpus precondition as
    // for the gram expressions) replaces explode → groupBy(doc_id,
    // bucket) → groupBy(doc_id): the 750M exploded token rows spilled
    // through both shuffles at sf100 (15.4x wall for 10x docs). Now
    // the only shuffle is the final small-row orderBy. The
    // n_tokens > 0 filter reproduces the explode shape's behavior of
    // never emitting token-less docs; l2 derives from the carried
    // sum(c²) in SQL so the IEEE sqrt/round matches the oracle.
    docs(s, dir)
      .select(col("doc_id"), org.apache.spark.sql.GraftBridge.column(
        graft.functions.HashFeaturesExpr(
          org.apache.spark.sql.GraftBridge.expression(col("text")), 64)).as("f"))
      .filter(expr("f[1] > 0"))
      .select(col("doc_id"), expr("f[0]").as("nnz"), expr("f[1]").as("n_tokens"),
        expr("f[2]").as("top_bucket"), expr("f[3]").as("top_count"),
        round(sqrt(expr("f[4]").cast("double")), 4).as("l2"))
      .orderBy(col("doc_id"))
  }

  private val textHashFeaturesSql =
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
      |bc AS (
      | SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS c
      | FROM b GROUP BY doc_id, bucket)
      |SELECT doc_id, count(*) AS nnz, CAST(sum(c) AS BIGINT) AS n_tokens,
      | min({'nc': -c, 'b': bucket}).b AS top_bucket,
      | CAST(-(min({'nc': -c, 'b': bucket}).nc) AS BIGINT) AS top_count,
      | round(sqrt(CAST(sum(c * c) AS DOUBLE)), 4) AS l2
      |FROM bc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // E14 — PER-LANGUAGE BPE: E6's language decision keys one vocabulary
  // per language (the reason a corpus-level language ID exists in a
  // tokenizer pipeline). Each language's merges train ONLY on word
  // types of docs predicted as that language, and each doc encodes
  // with its own language's table. The oracle replays E6's decision
  // AND all four training loops in chained CTEs — rank-for-rank,
  // pair-for-pair — then joins each doc's words to its language's
  // final word table.
  private val PerLangMerges = 4
  private val BpeLangs = Seq("de", "en", "es", "fr")

  private def textBpePerLang(s: SparkSession, dir: String): DataFrame = {
    val docWords = docs(s, dir)
      .select(col("doc_id"), explode(expr(
        "filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '' AND length(x) >= 2)"))
        .as("word"))
      .join(predLang(s, dir), Seq("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docWords.count() // fill the cache once before the trainer hits it
    // r11 (VERDICT r10 ask #6): the four vocabularies train as ONE
    // grouped loop — each round is one job whose pair-count aggregate
    // carries pred_lang in the group key and whose per-language argmax
    // + greedy merge apply in the same pass (BpeTrainer.trainGrouped;
    // merge tables bit-identical to four independent train() runs).
    // The previous four concurrent futures ran 16 collect-sync jobs
    // whose fixed scheduling cost dominated the 6.2 s wall.
    val typeCounts = docWords
      .filter(col("pred_lang").isin(BpeLangs: _*))
      .groupBy(col("pred_lang"), col("word")).agg(count(lit(1)).as("cnt"))
    val mergesByLang = graft.operators.BpeTrainer
      .trainGrouped(typeCounts, "pred_lang", PerLangMerges)
    val encoded = BpeLangs.map { lang =>
      graft.operators.BpeTrainer.encode(
        typeCounts.filter(col("pred_lang") === lang).select(col("word")),
        mergesByLang.getOrElse(lang, Seq.empty)
          .sortBy(_.rank).map(m => (m.pa, m.pb)))
        .withColumn("pred_lang", lit(lang))
    }.reduce(_ unionByName _)
    val out = docWords.join(encoded, Seq("pred_lang", "word"))
      .groupBy(col("doc_id"), col("pred_lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word")).cast("long")).as("n_chars"),
        sum(col("n_toks")).as("n_bpe_tokens"))
      .withColumn("compression",
        round(col("n_chars").cast("double") / col("n_bpe_tokens"), 4))
      .select(col("doc_id"), col("pred_lang"), col("n_words"), col("n_chars"),
        col("n_bpe_tokens"), col("compression"))
      .orderBy(col("doc_id"))
      // materialize so the docWords cache releases deterministically
      .localCheckpoint(eager = true)
    docWords.unpersist(false)
    out
  }

  /** One language's training chain over `dwl` (doc_id, pred_lang,
    * word): CTEs `${L}w0 … ${L}w$PerLangMerges`. An empty pair table
    * must leave the word table UNCHANGED (LEFT JOIN ON TRUE), matching
    * the trainer's "no pair found → no merge" behavior.
    */
  private def perLangSqlChain(lang: String): String = {
    val sb = new StringBuilder
    sb.append(s""",
      |${lang}w0 AS (
      | SELECT word, CAST(count(*) AS BIGINT) AS cnt,
      |   list_transform(generate_series(1, length(word)),
      |     i -> substring(word, i, 1)) AS toks
      | FROM dwl WHERE pred_lang = '$lang' GROUP BY word
      |)""".stripMargin)
    for (k <- 0 until PerLangMerges) {
      sb.append(s""",
        |${lang}c$k AS (
        | SELECT p.pa AS pa, p.pb AS pb, CAST(sum(cnt) AS BIGINT) AS weight
        | FROM (SELECT cnt, unnest(list_transform(generate_series(1, len(toks) - 1),
        |         i -> {'pa': toks[i], 'pb': toks[i + 1]})) AS p
        |       FROM ${lang}w$k WHERE len(toks) >= 2) px
        | GROUP BY 1, 2
        |),
        |${lang}b$k AS (SELECT pa, pb FROM ${lang}c$k
        |               ORDER BY weight DESC, pa, pb LIMIT 1),
        |${lang}w${k + 1} AS (
        | SELECT w.word, w.cnt,
        |   CASE WHEN b.pa IS NULL THEN w.toks ELSE
        |     list_reduce(
        |       list_prepend(CAST([] AS VARCHAR[]), list_transform(w.toks, x -> [x])),
        |       (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = b.pa AND x[1] = b.pb
        |                   THEN list_append(acc[1:len(acc) - 1], b.pa || b.pb)
        |                   ELSE list_append(acc, x[1]) END) END AS toks
        | FROM ${lang}w$k w LEFT JOIN ${lang}b$k b ON TRUE
        |)""".stripMargin)
    }
    sb.toString
  }

  /** Shared oracle prefix for the per-language BPE family: E6's
    * language decision (prof…pl), the doc-word table keyed by language
    * (dwl), all four training chains, and the unioned encode table
    * `enc (pred_lang, word, n_toks)`. E14 and E17 append their final
    * SELECTs to this.
    */
  private val perLangOracleBase: String = {
    val vals = NgramProfiles.map { case (l, g, w) => s"('$l', '$g', $w)" }
      .mkString(", ")
    s"""WITH prof(lang, gram, weight) AS (VALUES $vals),
       |g AS (
       | SELECT doc_id, unnest(list_transform(generate_series(1, length(text) - 2),
       |   i -> substring(lower(text), i, 3))) AS gram
       | FROM documents WHERE length(text) >= 3
       |),
       |h AS (
       | SELECT doc_id, lang, CAST(sum(weight) AS BIGINT) AS score
       | FROM g JOIN prof USING (gram) GROUP BY doc_id, lang
       |),
       |bst AS (
       | SELECT doc_id, lang,
       |   row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rk
       | FROM h
       |),
       |pl AS (
       | SELECT d.doc_id, coalesce(b.lang, 'en') AS pred_lang
       | FROM documents d LEFT JOIN (SELECT * FROM bst WHERE rk = 1) b USING (doc_id)
       |),
       |dw AS (
       | SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       |   x -> x <> '' AND length(x) >= 2)) AS word
       | FROM documents
       |),
       |dwl AS (SELECT dw.doc_id, pl.pred_lang, dw.word FROM dw JOIN pl USING (doc_id))""".stripMargin +
      BpeLangs.map(perLangSqlChain).mkString + s""",
       |enc AS (${BpeLangs.map(l =>
        s"SELECT '$l' AS pred_lang, word, CAST(len(toks) AS BIGINT) AS n_toks FROM ${l}w$PerLangMerges")
        .mkString("\n  UNION ALL ")}
       |)""".stripMargin
  }

  private val textBpePerLangSql: String = perLangOracleBase + s"""
       |SELECT d.doc_id, d.pred_lang, count(*) AS n_words,
       | CAST(sum(length(d.word)) AS BIGINT) AS n_chars,
       | CAST(sum(e.n_toks) AS BIGINT) AS n_bpe_tokens,
       | round(sum(length(d.word)) / sum(e.n_toks), 4) AS compression
       |FROM dwl d JOIN enc e USING (pred_lang, word)
       |GROUP BY d.doc_id, d.pred_lang
       |ORDER BY d.doc_id""".stripMargin

  // E17 — PER-LANGUAGE encode through the session ARTIFACT cache:
  // E16's tokenizer-artifact shape × E14's language key. Each of the
  // four vocabularies trains at most once per (corpus, language,
  // rounds) per session — every later run is encode-only across ALL
  // languages, the deployment shape of a multilingual tokenizer fleet.
  // Output is the per-language corpus report (one row per language).
  // The oracle replays E6's decision + all four trainings in full
  // (DuckDB has no session cache; the values must match whether or not
  // the Spark side retrained — the cache-safety argument E16
  // established). BpeArtifactSpec pins the skip-training behavior.
  private def textBpePerLangArtifact(s: SparkSession, dir: String): DataFrame = {
    val docWords = docs(s, dir)
      .select(col("doc_id"), explode(expr(
        "filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '' AND length(x) >= 2)"))
        .as("word"))
      .join(predLang(s, dir), Seq("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docWords.count() // fill the cache once before the parallel encoders hit it
    val encoded = QueryShape.concurrently(s, BpeLangs) { lang =>
      val wordCounts = docWords.filter(col("pred_lang") === lang)
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      val merges = graft.operators.BpeTrainer.Artifacts
        .mergesFor(wordCounts, s"bpe:$dir:lang=$lang", PerLangMerges)
      graft.operators.BpeTrainer.encode(wordCounts.select(col("word")), merges)
        .withColumn("pred_lang", lit(lang))
    }.reduce(_ unionByName _)
    val out = docWords.join(encoded, Seq("pred_lang", "word"))
      .groupBy(col("pred_lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(length(col("word")).cast("long")).as("n_chars"),
        sum(col("n_toks")).as("n_bpe_tokens"))
      .withColumn("compression",
        round(col("n_chars").cast("double") / col("n_bpe_tokens"), 4))
      .select(col("pred_lang"), col("n_docs"), col("n_words"), col("n_chars"),
        col("n_bpe_tokens"), col("compression"))
      .orderBy(col("pred_lang"))
      // materialize so the docWords cache releases deterministically
      .localCheckpoint(eager = true)
    docWords.unpersist(false)
    out
  }

  private val textBpePerLangArtifactSql: String = perLangOracleBase + s"""
       |SELECT d.pred_lang, CAST(count(DISTINCT d.doc_id) AS BIGINT) AS n_docs,
       | count(*) AS n_words,
       | CAST(sum(length(d.word)) AS BIGINT) AS n_chars,
       | CAST(sum(e.n_toks) AS BIGINT) AS n_bpe_tokens,
       | round(sum(length(d.word)) / sum(e.n_toks), 4) AS compression
       |FROM dwl d JOIN enc e USING (pred_lang, word)
       |GROUP BY d.pred_lang
       |ORDER BY d.pred_lang""".stripMargin

  // E2 — quality scoring: length / punctuation / digit / stopword ratios.
  private def textQuality(s: SparkSession, dir: String): DataFrame = {
    val len = length(col("text")).cast("long")
    val punct = length(regexp_replace(col("text"), "[^.,!?;:]", "")).cast("double")
    val digit = length(regexp_replace(col("text"), "[^0-9]", "")).cast("double")
    val padded = concat(lit(" "), lower(col("text")), lit(" "))
    val stopHits = Seq(" the ", " and ", " of ").map(w => hits(padded, w)).reduce(_ + _)
    docs(s, dir).select(col("doc_id"),
      len.as("text_len"),
      (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1).cast("long").as("n_words_approx"),
      round(punct / len, 4).as("punct_ratio"),
      round(digit / len, 4).as("digit_ratio"),
      round(stopHits * 5.0 / len, 4).as("stop_ratio"),
      when(len >= 100 && punct / len <= 0.1, 1L).otherwise(0L).as("quality_flag"))
      .orderBy(col("doc_id"))
  }

  private val textQualitySql = {
    val p = "concat(' ', lower(text), ' ')"
    val stop = Seq(" the ", " and ", " of ").map(w => hitsSql(p, w)).mkString(" + ")
    s"""SELECT doc_id,
       | CAST(length(text) AS BIGINT) AS text_len,
       | CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_words_approx,
       | round(CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) / length(text), 4) AS punct_ratio,
       | round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text), 4) AS digit_ratio,
       | round(($stop) * 5.0 / length(text), 4) AS stop_ratio,
       | CAST(CASE WHEN length(text) >= 100
       |   AND CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) / length(text) <= 0.1
       |   THEN 1 ELSE 0 END AS BIGINT) AS quality_flag
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // E3 — token counting: whitespace words + BPE-ish regex tokens.
  private val TokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  private def textTokens(s: SparkSession, dir: String): DataFrame = {
    val toks = size(expr(s"regexp_extract_all(text, '$TokenPattern', 0)")).cast("long")
    val words = size(expr("regexp_extract_all(text, '[A-Za-z]+', 0)")).cast("long")
    docs(s, dir).select(col("doc_id"),
      toks.as("n_tokens"), words.as("n_words"),
      round(length(col("text")).cast("double") / greatest(toks, lit(1L)), 4).as("chars_per_token"))
      .orderBy(col("doc_id"))
  }

  private val textTokensSql =
    s"""SELECT doc_id,
       | CAST(len(regexp_extract_all(text, '$TokenPattern')) AS BIGINT) AS n_tokens,
       | CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_words,
       | round(CAST(length(text) AS DOUBLE) /
       |   greatest(len(regexp_extract_all(text, '$TokenPattern')), 1), 4) AS chars_per_token
       |FROM documents ORDER BY doc_id""".stripMargin

  // E4 — document fingerprint: full-text modular polynomial hash +
  // winnowing-style min over rolling 8-gram polynomial hashes (modular
  // arithmetic keeps it in BIGINT range on both engines). Native
  // codegen'd expressions (graft.functions.TextHashExpressions) — the
  // nested-HOF formulation ran an interpreted fold per window and was
  // the slowest query in the r2 bench (48 s → sub-second at sf0.1).
  private def textFingerprint(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    def nat(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      GraftBridge.column(e)
    docs(s, dir).select(col("doc_id"),
      nat(graft.functions.PolyHashExpr(GraftBridge.expression(col("text"))))
        .as("full_fp"),
      nat(graft.functions.MinGramHashExpr(GraftBridge.expression(col("text")), 8))
        .as("min_gram_fp"))
      .orderBy(col("doc_id"))
  }

  private val textFingerprintSql =
    """SELECT doc_id,
      | list_reduce(
      |   list_prepend(7::BIGINT, list_transform(generate_series(1, length(text)),
      |     i -> ascii(substring(text, i, 1))::BIGINT)),
      |   (acc, c) -> (acc * 31 + c) % 1000000007) AS full_fp,
      | list_min(list_transform(generate_series(1, greatest(length(text) - 7, 1)), i ->
      |   list_reduce(
      |     list_prepend(7::BIGINT, list_transform(generate_series(i, i + 7),
      |       k -> ascii(substring(text, k, 1))::BIGINT)),
      |     (acc, c) -> (acc * 31 + c) % 1000000007))) AS min_gram_fp
      |FROM documents ORDER BY doc_id""".stripMargin

  // E9 — PII detection + redaction: the scrubbing pass every
  // training-data pipeline runs before anything else. The synthetic
  // corpus has no PII, so deterministic emails/phone fragments are
  // INJECTED first (CASE on doc_id — oracle-replayable), then
  // detected with regexp counts and redacted with global
  // regexp_replace (Spark replaces all matches natively; DuckDB needs
  // the 'g' flag — the cross-engine trap this query pins). The
  // post-scrub rescan must find zero hits.
  private def textPiiScrub(s: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-z0-9]+@[a-z0-9.]+\\.[a-z]+"
    val phoneRe = "555-[0-9]{4}"
    val withPii = docs(s, dir).select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id"), lit("@example.com now")))
        .when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" call 555-"), lpad(col("doc_id") % 10000, 4, "0")))
        .otherwise(col("text")).as("t"))
    val scrubbed = regexp_replace(
      regexp_replace(col("t"), emailRe, "[EMAIL]"), phoneRe, "[PHONE]")
    withPii.select(col("doc_id"),
      regexp_count(col("t"), lit(emailRe)).cast("long").as("n_emails"),
      regexp_count(col("t"), lit(phoneRe)).cast("long").as("n_phones"),
      length(scrubbed).cast("long").as("scrubbed_len"),
      (regexp_count(regexp_replace(regexp_replace(col("t"), emailRe, "[EMAIL]"),
        phoneRe, "[PHONE]"), lit(emailRe)) === 0).as("clean_after_scrub"))
      .orderBy(col("doc_id"))
  }

  private val textPiiScrubSql =
    """WITH p AS (
      | SELECT doc_id,
      |   CASE WHEN doc_id % 5 = 0
      |          THEN text || ' contact user' || doc_id || '@example.com now'
      |        WHEN doc_id % 7 = 0
      |          THEN text || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |        ELSE text END AS t
      | FROM documents)
      |SELECT doc_id,
      | CAST(len(regexp_extract_all(t, '[a-z0-9]+@[a-z0-9.]+\.[a-z]+')) AS BIGINT) AS n_emails,
      | CAST(len(regexp_extract_all(t, '555-[0-9]{4}')) AS BIGINT) AS n_phones,
      | CAST(length(regexp_replace(regexp_replace(t, '[a-z0-9]+@[a-z0-9.]+\.[a-z]+', '[EMAIL]', 'g'),
      |   '555-[0-9]{4}', '[PHONE]', 'g')) AS BIGINT) AS scrubbed_len,
      | len(regexp_extract_all(regexp_replace(regexp_replace(t, '[a-z0-9]+@[a-z0-9.]+\.[a-z]+', '[EMAIL]', 'g'),
      |   '555-[0-9]{4}', '[PHONE]', 'g'), '[a-z0-9]+@[a-z0-9.]+\.[a-z]+')) = 0 AS clean_after_scrub
      |FROM p ORDER BY doc_id""".stripMargin

  // E5 — TF-IDF: top-5 terms per document. One explode + three
  // aggregations (term-frequency, doc length, document frequency);
  // the corpus size joins in as a broadcast scalar. Identical
  // double arithmetic on both engines keeps the ranking stable
  // (ties broken by term).
  private def textTfidf(s: SparkSession, dir: String): DataFrame = {
    val tokens = expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')")
    val toks = docs(s, dir).select(col("doc_id"), explode(tokens).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("cnt"))
    val docLen = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("total"))
    val dfreq = toks.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("dfreq"))
    val n = docs(s, dir).agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    tf.join(docLen, "doc_id")
      .join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", (col("cnt") / col("total")) * log(col("n_docs") / col("dfreq")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("doc_id"), col("rnk"), col("term"), round(col("tfidf"), 6).as("tfidf"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  private val textTfidfSql =
    """WITH toks AS (
      | SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |   x -> x <> '')) AS term
      | FROM documents
      |), tf AS (
      | SELECT doc_id, term, count(*) AS cnt FROM toks GROUP BY doc_id, term
      |), dl AS (
      | SELECT doc_id, count(*) AS total FROM toks GROUP BY doc_id
      |), dfr AS (
      | SELECT term, count(*) AS dfreq FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term
      |), scored AS (
      | SELECT tf.doc_id, tf.term,
      |   (tf.cnt / dl.total) * ln((SELECT count(*) FROM documents) / dfr.dfreq) AS tfidf
      | FROM tf JOIN dl ON tf.doc_id = dl.doc_id JOIN dfr ON tf.term = dfr.term
      |), ranked AS (
      | SELECT doc_id, term, tfidf,
      |   CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS BIGINT) AS rnk
      | FROM scored
      |)
      |SELECT doc_id, rnk, term, round(tfidf, 6) AS tfidf
      |FROM ranked WHERE rnk <= 5 ORDER BY doc_id, rnk""".stripMargin

  // E10 — text normalization (case folding, whitespace collapse,
  // trim): the canonicalization pass that runs before exact dedup so
  // trivially-different bytes hash identically. The corpus text is
  // already canonical, so the query derives a deterministically MESSY
  // twin (upper-cased by doc_id mod 3, space-padded by mod 2), runs
  // the normalizer, and proves the round trip: every normalized doc
  // equals its original — plus the md5-distinct count collapsing back
  // from messy to original. One scan, all codegen'd string exprs.
  private def textNormalize(s: SparkSession, dir: String): DataFrame = {
    val messy = when(col("doc_id") % 2 === 0,
      concat(lit("  "), when(col("doc_id") % 3 === 0, upper(col("text")))
        .otherwise(col("text")), lit(" ")))
      .otherwise(when(col("doc_id") % 3 === 0, upper(col("text")))
        .otherwise(col("text")))
    val norm = trim(regexp_replace(lower(col("messy")), " +", " "))
    docs(s, dir)
      .withColumn("messy", messy)
      .withColumn("norm", norm)
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("messy") =!= col("text"), 1L).otherwise(0L)).as("n_messy"),
        sum(when(col("norm") === col("text"), 1L).otherwise(0L)).as("n_restored"),
        countDistinct(md5(col("messy"))).as("distinct_messy"),
        countDistinct(md5(col("norm"))).as("distinct_norm"))
  }

  private val textNormalizeSql =
    """WITH m AS (
      | SELECT text,
      |  CASE WHEN doc_id % 2 = 0 THEN concat('  ',
      |         CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END, ' ')
      |       ELSE CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END
      |  END AS messy
      | FROM documents),
      |n AS (SELECT text, messy,
      |        trim(regexp_replace(lower(messy), ' +', ' ', 'g')) AS norm FROM m)
      |SELECT count(*) AS n_docs,
      | CAST(sum(CASE WHEN messy <> text THEN 1 ELSE 0 END) AS BIGINT) AS n_messy,
      | CAST(sum(CASE WHEN norm = text THEN 1 ELSE 0 END) AS BIGINT) AS n_restored,
      | count(DISTINCT md5(messy)) AS distinct_messy,
      | count(DISTINCT md5(norm)) AS distinct_norm
      |FROM n""".stripMargin

  // E11 — bigram language-model scoring (the KenLM-shaped fluency
  // filter): train MLE bigram probabilities C(w1,w2)/C(w1) on the
  // corpus itself (two hash aggs), broadcast the model, score every
  // document by its mean/min bigram probability. Probabilities are
  // exact-integer ratios (one IEEE division — bit-identical in any
  // engine), so unlike a log-prob the score replays without
  // transcendental-libm drift; min is order-free, the 4dp round
  // absorbs sum reordering in the mean. At 100 TB the model table is
  // the only broadcast and scoring stays one scan.
  private def textLmScore(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bigrams = toks
      .withColumn("w2", lead(col("w"), 1).over(w))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), col("w").as("w1"), col("w2"))
    val pairC = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val uniC = bigrams.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val model = pairC.join(uniC, Seq("w1"))
      .select(col("w1"), col("w2"), (col("c12").cast("double") / col("c1")).as("p"))
    bigrams.join(broadcast(model), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("p")), 4).as("avg_p"),
        min(col("p")).as("min_p"))
      .transform(QueryShape.stagedSort(_, col("doc_id")))
  }

  private val textLmScoreSql =
    """WITH t AS (
      | SELECT doc_id, i AS pos, w[i] AS w1, w[i + 1] AS w2
      | FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |      (SELECT unnest(generate_series(1, 200)) AS i)
      | WHERE i < len(w) AND w[i] <> '' AND w[i + 1] <> ''),
      |pc AS (SELECT w1, w2, count(*) AS c12 FROM t GROUP BY w1, w2),
      |uc AS (SELECT w1, count(*) AS c1 FROM t GROUP BY w1),
      |m AS (SELECT w1, w2, CAST(c12 AS DOUBLE) / c1 AS p
      |      FROM pc JOIN uc USING (w1))
      |SELECT doc_id, count(*) AS n_bigrams,
      | round(avg(p), 4) AS avg_p, min(p) AS min_p
      |FROM t JOIN m USING (w1, w2)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // E13 — lexical diversity / word-shape metrics: type-token ratio
  // (the classic repetition detector — boilerplate and generation
  // loops crater it), mean word length, and long-word ratio, all from
  // one array of tokens per doc via higher-order functions (filter /
  // aggregate / array_distinct — codegen'd, UDF-free, exact integer
  // arithmetic under the rounds).
  private def textLexicalStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("toks", expr("filter(split(text, ' '), x -> x <> '')"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        round(expr("aggregate(toks, 0L, (a, x) -> a + length(x))").cast("double")
          / size(col("toks")), 4).as("avg_word_len"),
        round(size(expr("array_distinct(toks)")).cast("double")
          / size(col("toks")), 4).as("ttr"),
        round(size(expr("filter(toks, x -> length(x) > 5)")).cast("double")
          / size(col("toks")), 4).as("long_ratio"))
      .transform(QueryShape.stagedSort(_, col("doc_id")))

  private val textLexicalStatsSql =
    """WITH t AS (
      | SELECT doc_id,
      |   list_filter(string_split(text, ' '), x -> x <> '') AS toks
      | FROM documents)
      |SELECT doc_id,
      | CAST(len(toks) AS BIGINT) AS n_words,
      | round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
      |   / len(toks), 4) AS avg_word_len,
      | round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4) AS ttr,
      | round(CAST(len(list_filter(toks, x -> length(x) > 5)) AS DOUBLE)
      |   / len(toks), 4) AS long_ratio
      |FROM t ORDER BY doc_id""".stripMargin

  // E18 — within-document REPETITION signals (the Gopher/Dolma
  // repetition filters — the quality rule family that removes
  // boilerplate and degenerate generations): duplicate-token
  // fraction (1 - type/token), top-unigram mass, top-bigram mass.
  // Counts come from explode + two hash aggregates per granularity —
  // linear in text length and fully distributed (NOT per-row
  // quadratic array HOFs: a 100 KB doc has ~20k tokens and
  // O(n·distinct) per row would melt at 100 TB). All scores are
  // exact-integer ratios (one IEEE division + 4dp round), so the
  // oracle replays bit-identically. Degenerate docs (0/1 tokens)
  // pin their fractions to 0.0 on both sides instead of dividing by
  // zero — the q53 lesson.
  private def textRepetition(s: SparkSession, dir: String): DataFrame = {
    // Per-doc mode counts are ROW-LOCAL: one native pass
    // (RepetitionStatsExpr) replaces the exploded groupBy(doc_id, tok)
    // / groupBy(doc_id, bigram) shape, whose O(total tokens) hash-agg
    // shuffle went superlinear once it started spilling (r9 sf100
    // probe: 16.1× wall for 10× data on 640M exploded rows). The
    // whole query is now a single scan -> project -> sort: zero
    // joins, zero aggregations, nothing shuffles but the final
    // (small-row) ordering.
    // ORACLE VALIDITY DOMAIN (the gram expressions' standing
    // precondition, restated here because RepetitionStatsExpr changes
    // token identity): the native pass tokenizes by an ASCII byte walk
    // with FNV-64 token codes, while the SQL oracle lower()+regexps
    // Unicode strings — equivalent on ASCII corpora (this one) but NOT
    // in general (e.g. U+212A KELVIN SIGN lowercases to 'k' in the SQL
    // path yet is a separator byte-wise), and modulo 64-bit hash
    // collisions between distinct tokens (negligible per-doc).
    val st = org.apache.spark.sql.GraftBridge.column(
      graft.functions.RepetitionStatsExpr(
        org.apache.spark.sql.GraftBridge.expression(col("text"))))
    val frac = (num: Column, den: Column) =>
      when(den <= 0L, lit(0.0)).otherwise(round(num / den, 4) + lit(0.0))
    docs(s, dir).select(col("doc_id"), st.as("st"))
      .select(col("doc_id"),
        element_at(col("st"), 1).as("n_toks"),
        element_at(col("st"), 2).as("n_distinct"),
        element_at(col("st"), 3).as("top_uni"),
        element_at(col("st"), 4).as("top_bi"))
      .withColumn("dup_frac", frac(col("n_toks") - col("n_distinct"), col("n_toks")))
      .withColumn("top_uni_frac", frac(col("top_uni"), col("n_toks")))
      .withColumn("top_bi_frac", frac(col("top_bi"), col("n_toks") - 1L))
      .withColumn("gopher_ok",
        col("dup_frac") <= 0.6 && col("top_uni_frac") <= 0.3 && col("top_bi_frac") <= 0.25)
      .select(col("doc_id"), col("n_toks"), col("n_distinct"),
        col("dup_frac"), col("top_uni_frac"), col("top_bi_frac"), col("gopher_ok"))
      .orderBy(col("doc_id"))
  }

  private val textRepetitionSql =
    """WITH t AS (
      | SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |   x -> x <> '') AS toks
      | FROM documents),
      |base AS (
      | SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
      |   CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct FROM t),
      |uni AS (
      | SELECT doc_id, max(c) AS top_uni FROM (
      |   SELECT doc_id, tok, count(*) AS c
      |   FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY doc_id, tok)
      | GROUP BY doc_id),
      |bi AS (
      | SELECT doc_id, max(c) AS top_bi FROM (
      |   SELECT doc_id, bg, count(*) AS c
      |   FROM (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
      |     THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
      |     ELSE [] END) AS bg FROM t) GROUP BY doc_id, bg)
      | GROUP BY doc_id),
      |scored AS (
      | SELECT b.doc_id, b.n_toks, b.n_distinct,
      |  CASE WHEN b.n_toks <= 0 THEN 0.0
      |       ELSE round((b.n_toks - b.n_distinct) / b.n_toks, 4) + 0 END AS dup_frac,
      |  CASE WHEN b.n_toks <= 0 THEN 0.0
      |       ELSE round(coalesce(u.top_uni, 0) / b.n_toks, 4) + 0 END AS top_uni_frac,
      |  CASE WHEN b.n_toks - 1 <= 0 THEN 0.0
      |       ELSE round(coalesce(i.top_bi, 0) / (b.n_toks - 1), 4) + 0 END AS top_bi_frac
      | FROM base b LEFT JOIN uni u USING (doc_id) LEFT JOIN bi i USING (doc_id))
      |SELECT doc_id, n_toks, n_distinct, dup_frac, top_uni_frac, top_bi_frac,
      | (dup_frac <= 0.6 AND top_uni_frac <= 0.3 AND top_bi_frac <= 0.25) AS gopher_ok
      |FROM scored ORDER BY doc_id""".stripMargin

  // E19 — BM25 lexical retrieval (the ranking function behind every
  // full-text search tier a RAG pipeline fronts with): score the
  // corpus against a fixed query-term set with Robertson/Okapi BM25
  // (k1=1.2, b=0.75) and return the top-20 documents. Shape: one
  // explode → three hash aggs (tf, dl, df) → broadcast of the
  // O(|query terms|) df table + the two corpus scalars — the corpus
  // itself is touched once and never shuffled wider than (doc_id,
  // term of the query set). Per-doc totals fold the ≤4 per-term
  // scores in a FIXED syntactic order (one conditional sum per term)
  // so the double addition replays bit-identically in the oracle —
  // a hash-agg sum over terms would be merge-order-dependent.
  private val Bm25Terms = Seq("spark", "join", "window", "vector")

  private def textBm25(s: SparkSession, dir: String): DataFrame = {
    val tokens = expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')")
    val toks = docs(s, dir).select(col("doc_id"), explode(tokens).as("term"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = toks.filter(col("term").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dl, "doc_id")
      .join(broadcast(dfreq), "term").crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("sc", col("idf") * (col("tf") * (lit(1.2) + lit(1.0))) /
        (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl"))))
    val total = Bm25Terms
      .map(t => coalesce(sum(when(col("term") === t, col("sc"))), lit(0.0)))
      .reduce(_ + _)
    val top = scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit"), total.as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(20)
    top.withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("n_hit"),
        (round(col("score"), 4) + lit(0.0)).as("bm25"))
      .orderBy(col("rank"))
  }

  private val textBm25Sql =
    """WITH toks AS (
      | SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |   x -> x <> '')) AS term
      | FROM documents),
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
      |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
      |       WHERE term IN ('spark', 'join', 'window', 'vector')
      |       GROUP BY doc_id, term),
      |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |sc AS (SELECT tf.doc_id, tf.term,
      |         ln(1.0 + (stats.n_docs - dfr.df + 0.5) / (dfr.df + 0.5)) *
      |         (tf.tf * (CAST(1.2 AS DOUBLE) + 1.0)) /
      |         (tf.tf + CAST(1.2 AS DOUBLE) * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS sc
      |       FROM tf JOIN dl USING (doc_id) JOIN dfr USING (term), stats),
      |agg AS (SELECT doc_id, count(*) AS n_hit,
      |         coalesce(sum(CASE WHEN term = 'spark' THEN sc END), 0.0)
      |         + coalesce(sum(CASE WHEN term = 'join' THEN sc END), 0.0)
      |         + coalesce(sum(CASE WHEN term = 'window' THEN sc END), 0.0)
      |         + coalesce(sum(CASE WHEN term = 'vector' THEN sc END), 0.0) AS score
      |        FROM sc GROUP BY doc_id),
      |top AS (SELECT doc_id, n_hit, score FROM agg
      |        ORDER BY score DESC, doc_id LIMIT 20)
      |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
      | doc_id, n_hit, round(score, 4) + 0 AS bm25
      |FROM top ORDER BY rank""".stripMargin

  // E20 — LINEAR QUALITY-CLASSIFIER inference (the fastText/DCLM
  // filter shape: a trained model scores every document and a
  // threshold keeps the top mass; here the model is a deterministic
  // weight table over E15's 64-bucket hashed feature space, because
  // the SERVING shape — not the training — is the 100 TB operator).
  // Weights are INTEGERS in [-500, 500] derived from the bucket index
  // by a jointly-nonlinear modular polynomial, so the per-doc margin
  // Σ c_b·w_b is an exact integer sum — order-independent across any
  // partitioning — and the only IEEE op is the final mean division.
  // The weight table never materializes: w(b) inlines into the
  // projection, so serving is one explode + two hash aggs, zero
  // joins, zero driver state — the same economics as E15.
  private def textClassifierScore(s: SparkSession, dir: String): DataFrame = {
    val buckets = 64
    val tok = docs(s, dir)
      .select(col("doc_id"), explode(expr(
        "filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')")).as("tok"))
      .withColumn("bucket", expr(
        """aggregate(
          |  transform(sequence(1, length(tok)), i -> ascii(substring(tok, i, 1))),
          |  CAST(7 AS BIGINT),
          |  (acc, c) -> (acc * 31 + c) % 1000000007)""".stripMargin) % buckets)
      .withColumn("w",
        (((col("bucket") * col("bucket")) % 997L) * 7919L
          + col("bucket") * 104729L + 65537L) % 1001L - 500L)
    tok.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("w")).as("margin"))
      .withColumn("mean_margin",
        round(col("margin").cast("double") / col("n_tokens"), 4) + lit(0.0))
      .withColumn("keep", col("margin") > 0L)
      .select(col("doc_id"), col("n_tokens"), col("margin"),
        col("mean_margin"), col("keep"))
      .orderBy(col("doc_id"))
  }

  private val textClassifierScoreSql =
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
      |agg AS (
      | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |   CAST(sum(w) AS BIGINT) AS margin
      | FROM w GROUP BY doc_id)
      |SELECT doc_id, n_tokens, margin,
      | round(CAST(margin AS DOUBLE) / n_tokens, 4) + 0 AS mean_margin,
      | margin > 0 AS keep
      |FROM agg ORDER BY doc_id""".stripMargin

  // E21 — CHARACTER-ENTROPY quality signal: Shannon entropy of the
  // per-doc character distribution, the gibberish/compressibility
  // gate (near-zero entropy = repeated filler, near-log2(alphabet) =
  // random noise; natural text sits in a stable band). Formulated for
  // exact distributed computation: character counts are exact
  // integers from one map-side-combining hash agg on (doc_id, char) —
  // the explode shuffles at most |alphabet| rows per doc, not one row
  // per character — and entropy folds them as
  // log2(n) − (Σ c·log2 c)/n with a single 4dp rounding at the end
  // (the per-group float terms are each exact-integer-driven, so both
  // engines sum identical term sets). Docs shorter than 1 char report
  // 0.0 via the left-join spine.
  private def textEntropy(s: SparkSession, dir: String): DataFrame = {
    // per-doc char histogram in one compiled pass (CharCountHistExpr):
    // ~|alphabet| rows per doc enter the aggregate instead of one row
    // per CHARACTER (the explode shape shuffled ~60M char rows at sf1
    // — 25 s, the suite's worst honest scaler since r6). Counts are
    // identical integers, so the entropy terms match the oracle's.
    val ent = docs(s, dir).filter(length(col("text")) >= 1)
      .select(col("doc_id"), explode(org.apache.spark.sql.GraftBridge.column(
        graft.functions.CharCountHistExpr(
          org.apache.spark.sql.GraftBridge.expression(col("text"))))).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("distinct_chars"),
        sum(col("c").cast("double") * log2(col("c"))).as("s"))
      .withColumn("entropy_bits",
        round(log2(col("n")) - col("s") / col("n"), 4) + lit(0.0))
    docs(s, dir).select(col("doc_id"))
      .join(ent, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n"), lit(0L)).as("n_chars"),
        coalesce(col("distinct_chars"), lit(0L)).as("distinct_chars"),
        coalesce(col("entropy_bits"), lit(0.0)).as("entropy_bits"))
      .withColumn("low_entropy", col("entropy_bits") < 3.0)
      .transform(QueryShape.stagedSort(_, col("doc_id")))
  }

  private val textEntropySql =
    """WITH ch AS (
      | SELECT doc_id, unnest(list_transform(range(1, len(text) + 1),
      |   i -> substr(text, i, 1))) AS ch
      | FROM documents WHERE len(text) >= 1),
      |c AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch),
      |e AS (
      | SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
      |   count(*) AS distinct_chars,
      |   round(log2(CAST(sum(c) AS BIGINT)) - sum(c * log2(c)) / CAST(sum(c) AS BIGINT), 4) + 0
      |     AS entropy_bits
      | FROM c GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(e.n, 0) AS n_chars,
      | coalesce(e.distinct_chars, 0) AS distinct_chars,
      | coalesce(e.entropy_bits, 0.0) AS entropy_bits,
      | (coalesce(e.entropy_bits, 0.0) < 3.0) AS low_entropy
      |FROM documents d LEFT JOIN e USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // E22 — READABILITY scoring (Flesch reading-ease + Flesch-Kincaid
  // grade, the curation staple for audience-level bucketing): sentence
  // count = terminal-punctuation matches, syllable proxy = vowel
  // GROUPS ([aeiouy]+ runs — the standard regex approximation), word
  // count = the shared tokenizer. All three counters are
  // regexp_extract_all sizes — codegen'd, map-only, identical
  // semantics in DuckDB — and the two formulas apply exact-integer
  // ratios with one terminal 4dp rounding each. Zero-guard via
  // greatest(1, ·) so empty docs score instead of dividing by zero.
  // At 100 TB: pure scan work, no shuffle before the reporting sort.
  private def textReadability(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("n_sent", greatest(lit(1L),
        size(expr("regexp_extract_all(text, '[.!?]', 0)")).cast("long")))
      .withColumn("n_words", greatest(lit(1L),
        size(expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')")).cast("long")))
      .withColumn("n_syll", greatest(lit(1L),
        size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")).cast("long")))
      .withColumn("flesch", round(
        lit(206.835) - lit(1.015) * col("n_words") / col("n_sent")
          - lit(84.6) * col("n_syll") / col("n_words"), 4) + lit(0.0))
      .withColumn("fk_grade", round(
        lit(0.39) * col("n_words") / col("n_sent")
          + lit(11.8) * col("n_syll") / col("n_words") - lit(15.59), 4) + lit(0.0))
      .withColumn("band",
        when(col("flesch") >= 60.0, "easy")
          .when(col("flesch") >= 30.0, "standard")
          .otherwise("difficult"))
      .select(col("doc_id"), col("n_sent"), col("n_words"), col("n_syll"),
        col("flesch"), col("fk_grade"), col("band"))
      .transform(QueryShape.stagedSort(_, col("doc_id")))

  private val textReadabilitySql =
    """WITH b AS (
      | SELECT doc_id,
      |   greatest(1, CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT)) AS n_sent,
      |   greatest(1, CAST(len(list_filter(string_split_regex(lower(text),
      |     '[^a-z0-9]+'), x -> x <> '')) AS BIGINT)) AS n_words,
      |   greatest(1, CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)) AS n_syll
      | FROM documents),
      |sc AS (
      | SELECT doc_id, n_sent, n_words, n_syll,
      |   round(206.835 - 1.015 * n_words / n_sent
      |     - 84.6 * n_syll / n_words, 4) + 0 AS flesch,
      |   round(0.39 * n_words / n_sent
      |     + 11.8 * n_syll / n_words - 15.59, 4) + 0 AS fk_grade
      | FROM b)
      |SELECT doc_id, n_sent, n_words, n_syll, flesch, fk_grade,
      | CASE WHEN flesch >= 60.0 THEN 'easy'
      |      WHEN flesch >= 30.0 THEN 'standard'
      |      ELSE 'difficult' END AS band
      |FROM sc ORDER BY doc_id""".stripMargin

  // E23 — CODE-vs-PROSE detection (the StarCoder/CodeParrot-style
  // source gate: code shards poison a prose mixture and vice versa).
  // Three independent surface signals, each an exact integer count
  // from one codegen'd regexp_extract_all — structural symbols
  // ({};()=<>[]), reserved-word hits (\b-anchored so 'if' in 'gift'
  // doesn't fire), and indented continuation lines (newline followed
  // by 2+ spaces or a tab — the (?m) multiline flag is NOT portable
  // across regex engines, the \n prefix is) — folded into a 0-100
  // score with fixed weights and a single terminal rounding. Map-only
  // scan work; no shuffle before the reporting sort.
  private def textCodeDetect(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("n_sym", size(expr(
        "regexp_extract_all(text, '[{}();=<>\\\\[\\\\]]', 0)")).cast("long"))
      .withColumn("n_kw", size(expr(
        "regexp_extract_all(text, " +
          "'\\\\b(def|class|import|return|function|var|const|void|elif|lambda)\\\\b', 0)"))
        .cast("long"))
      .withColumn("n_indent", size(expr(
        "regexp_extract_all(text, '\\\\n(  |\\\\t)', 0)")).cast("long"))
      .withColumn("n_char", greatest(lit(1L), length(col("text")).cast("long")))
      .withColumn("score", round(
        least(lit(100.0),
          lit(400.0) * col("n_sym") / col("n_char")
            + lit(25.0) * least(col("n_kw"), lit(4L))
            + lit(5.0) * least(col("n_indent"), lit(8L))), 4) + lit(0.0))
      .select(col("doc_id"), col("n_sym"), col("n_kw"), col("n_indent"),
        col("score"), (col("score") >= 40.0).as("is_code"))
      .transform(QueryShape.stagedSort(_, col("doc_id")))

  private val textCodeDetectSql =
    """WITH c AS (
      | SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[{}();=<>\[\]]')) AS BIGINT) AS n_sym,
      |  CAST(len(regexp_extract_all(text,
      |    '\b(def|class|import|return|function|var|const|void|elif|lambda)\b'))
      |    AS BIGINT) AS n_kw,
      |  CAST(len(regexp_extract_all(text, '\n(  |\t)')) AS BIGINT) AS n_indent,
      |  greatest(1, length(text)) AS n_char
      | FROM documents),
      |sc AS (
      | SELECT doc_id, n_sym, n_kw, n_indent,
      |  round(least(100.0, 400.0 * n_sym / n_char
      |    + 25.0 * least(n_kw, 4) + 5.0 * least(n_indent, 8)), 4) + 0 AS score
      | FROM c)
      |SELECT doc_id, n_sym, n_kw, n_indent, score, score >= 40.0 AS is_code
      |FROM sc ORDER BY doc_id""".stripMargin

  // E24 — Unicode SCRIPT profile (the script-mix signal under
  // language ID: mixed-script spam, mojibake, and transliteration all
  // show up here before any classifier does). Exact per-doc counts of
  // five script ranges — Latin letters, digits, Cyrillic, CJK
  // unified, whitespace — via codegen'd regexp_extract_all over
  // literal char-class ranges (written as raw codepoints, portable
  // across Java regex and RE2), remainder = other. Dominant script by
  // count with a FIXED priority order on ties (latin > cyrillic > cjk
  // > digit), so the label is deterministic in both engines. Map-only.
  private def textScriptProfile(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("n_latin",
        size(expr("regexp_extract_all(text, '[A-Za-z]', 0)")).cast("long"))
      .withColumn("n_digit",
        size(expr("regexp_extract_all(text, '[0-9]', 0)")).cast("long"))
      .withColumn("n_cyr", size(expr(
        "regexp_extract_all(text, '[Ѐ-ӿ]', 0)")).cast("long"))
      .withColumn("n_cjk", size(expr(
        "regexp_extract_all(text, '[一-鿿]', 0)")).cast("long"))
      .withColumn("n_space", size(expr(
        "regexp_extract_all(text, '[ \\\\t\\\\n]', 0)")).cast("long"))
      .withColumn("n_other",
        length(col("text")).cast("long") - col("n_latin") - col("n_digit")
          - col("n_cyr") - col("n_cjk") - col("n_space"))
      .withColumn("script",
        when(col("n_latin") >= col("n_cyr") && col("n_latin") >= col("n_cjk")
          && col("n_latin") >= col("n_digit"), "latin")
          .when(col("n_cyr") >= col("n_cjk") && col("n_cyr") >= col("n_digit"),
            "cyrillic")
          .when(col("n_cjk") >= col("n_digit"), "cjk")
          .otherwise("digit"))
      .withColumn("latin_share", round(
        col("n_latin") / greatest(lit(1L), length(col("text")).cast("long")),
        4) + lit(0.0))
      .select(col("doc_id"), col("n_latin"), col("n_digit"), col("n_cyr"),
        col("n_cjk"), col("n_space"), col("n_other"), col("script"),
        col("latin_share"))
      .transform(QueryShape.stagedSort(_, col("doc_id")))

  private val textScriptProfileSql =
    """WITH c AS (
      | SELECT doc_id, length(text) AS n,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_latin,
      |  CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
      |  CAST(len(regexp_extract_all(text, '[Ѐ-ӿ]')) AS BIGINT) AS n_cyr,
      |  CAST(len(regexp_extract_all(text, '[一-鿿]')) AS BIGINT) AS n_cjk,
      |  CAST(len(regexp_extract_all(text, '[ \t\n]')) AS BIGINT) AS n_space
      | FROM documents)
      |SELECT doc_id, n_latin, n_digit, n_cyr, n_cjk, n_space,
      | n - n_latin - n_digit - n_cyr - n_cjk - n_space AS n_other,
      | CASE WHEN n_latin >= n_cyr AND n_latin >= n_cjk AND n_latin >= n_digit
      |        THEN 'latin'
      |      WHEN n_cyr >= n_cjk AND n_cyr >= n_digit THEN 'cyrillic'
      |      WHEN n_cjk >= n_digit THEN 'cjk'
      |      ELSE 'digit' END AS script,
      | round(n_latin * 1.0 / greatest(1, n), 4) + 0 AS latin_share
      |FROM c ORDER BY doc_id""".stripMargin

  // E25 — RAKE keyword extraction (Rose et al. 2010: candidate
  // phrases are maximal stopword-free token runs; a word scores
  // deg/freq where deg sums the lengths of every phrase containing
  // it; a phrase scores the sum of its word scores). The runs come
  // from gaps-and-islands (pos − row_number over non-stop tokens —
  // pure window algebra, no per-row loop), and every shuffle key is
  // (doc_id, …) so the whole extraction is doc-local and
  // embarrassingly parallel at 100 TB. Word scores are rounded to
  // integer 1e4-scaled units BEFORE the phrase sum — one IEEE
  // division each, identical in both engines — so phrase scores and
  // the (score DESC, phrase ASC) top-1 tie-break are exact integer
  // comparisons that can never flip on float summation order.
  private def textRakeKeywords(s: SparkSession, dir: String): DataFrame =
    rakeFor(docs(s, dir))

  /** The RAKE pipeline over any (doc_id, text) frame — shared with
    * RakeSpec, which plants known keyword phrases.
    *
    * r10: the whole extraction is doc-local, so it runs as ONE native
    * pass per row ([[graft.functions.RakeTopPhraseExpr]], same
    * integer scoring + tie-break) — the exploded window shape pushed
    * ~750M token rows at sf100 through five shuffles (266 s). The old
    * pipeline survives as [[rakeWindowedFor]]; RakeSpec asserts
    * native == windowed on its planted corpus.
    */
  private[graft] def rakeFor(docFrame: DataFrame): DataFrame =
    docFrame
      .select(col("doc_id"), org.apache.spark.sql.GraftBridge.column(
        graft.functions.RakeTopPhraseExpr(
          org.apache.spark.sql.GraftBridge.expression(col("text")),
          RakeStopwords)).as("r"))
      .filter(col("r").isNotNull)
      .select(col("doc_id"), col("r.top_phrase").as("top_phrase"),
        col("r.score_scaled").as("score_scaled"),
        col("r.n_candidates").as("n_candidates"))
      .transform(QueryShape.stagedSort(_, col("doc_id")))

  private[graft] val RakeStopwords = Seq("the", "and", "a", "of", "to",
    "in", "is", "it", "that", "for", "on", "with", "as")

  /** The pre-r10 window-algebra RAKE shape, kept as the parity
    * reference for RakeSpec.
    */
  private[graft] def rakeWindowedFor(docFrame: DataFrame): DataFrame = {
    val stop = RakeStopwords
    val toks = docFrame
      .select(col("doc_id"), posexplode(expr(
        "filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')"))
        .as(Seq("pos", "tok")))
    val ns = toks.filter(!col("tok").isin(stop: _*))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .withColumn("island", col("pos") - col("rn"))
    val isl = ns.groupBy(col("doc_id"), col("island"))
      .agg(count(lit(1)).as("plen"))
    val wl = ns.join(isl, Seq("doc_id", "island"))
    val ws = wl.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
    val sc = wl.join(ws, Seq("doc_id", "tok"))
      .withColumn("wscore",
        round(lit(10000.0) * col("deg") / col("freq")).cast("long"))
    val ph = sc.groupBy(col("doc_id"), col("island"))
      .agg(sum(col("wscore")).as("score_scaled"),
        concat_ws(" ", expr(
          "transform(sort_array(collect_list(struct(pos, tok))), x -> x.tok)"))
          .as("phrase"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_scaled").desc, col("phrase").asc)
    ph.withColumn("rn", row_number().over(w))
      .withColumn("n_candidates",
        count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("phrase").as("top_phrase"),
        col("score_scaled"), col("n_candidates"))
      .transform(QueryShape.stagedSort(_, col("doc_id")))
  }

  private val textRakeKeywordsSql =
    """WITH t AS (
      | SELECT doc_id, list_filter(string_split_regex(lower(text),
      |   '[^a-z0-9]+'), x -> x <> '') AS toks
      | FROM documents),
      |e AS (
      | SELECT doc_id, i - 1 AS pos, toks[i] AS tok
      | FROM t, (SELECT unnest(generate_series(1, 256)) AS i)
      | WHERE i <= len(toks)),
      |ns AS (
      | SELECT doc_id, pos, tok,
      |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
      | FROM e WHERE tok NOT IN ('the', 'and', 'a', 'of', 'to', 'in', 'is',
      |   'it', 'that', 'for', 'on', 'with', 'as')),
      |isl AS (
      | SELECT doc_id, island, count(*) AS plen FROM ns GROUP BY 1, 2),
      |wl AS (SELECT ns.*, plen FROM ns JOIN isl USING (doc_id, island)),
      |ws AS (
      | SELECT doc_id, tok, count(*) AS freq,
      |  CAST(sum(plen) AS BIGINT) AS deg
      | FROM wl GROUP BY 1, 2),
      |sc AS (
      | SELECT wl.doc_id, wl.island, wl.pos, wl.tok,
      |  CAST(round(10000.0 * deg / freq) AS BIGINT) AS wscore
      | FROM wl JOIN ws USING (doc_id, tok)),
      |ph AS (
      | SELECT doc_id, island, CAST(sum(wscore) AS BIGINT) AS score_scaled,
      |  string_agg(tok, ' ' ORDER BY pos) AS phrase
      | FROM sc GROUP BY 1, 2),
      |top AS (
      | SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY score_scaled DESC, phrase) AS rn,
      |  count(*) OVER (PARTITION BY doc_id) AS n_candidates
      | FROM ph)
      |SELECT doc_id, phrase AS top_phrase, score_scaled,
      | CAST(n_candidates AS BIGINT) AS n_candidates
      |FROM top WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // E26 — PMI COLLOCATIONS (corpus-level bigram association — the
  // classic collocation extractor and the phrase-mining complement to
  // E25's per-doc RAKE): PMI(a,b) = log2(p(ab) / (p(a)·p(b))) from
  // exact corpus unigram/bigram counts (two map-side-combining hash
  // aggs over the token stream — shuffles carry (token, count), never
  // text), with a min-count floor (c_ab ≥ 5: PMI's famous
  // rare-pair instability is a data bug, not an implementation
  // detail). Ranking compares ROUNDED PMI (6dp) with a lexical
  // tie-break, so the top-20 can't flip on float summation order.
  private def textPmiCollocations(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).withColumn("toks",
      expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')"))
    val uni = toks
      .select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val uniTot = uni.agg(sum(col("cw")).as("n1"))
    val bi = toks
      .select(explode(expr(
        """CASE WHEN size(toks) < 2 THEN array()
          | ELSE transform(sequence(1, size(toks) - 1),
          |   i -> named_struct('a', element_at(toks, i),
          |                     'b', element_at(toks, i + 1)))
          | END""".stripMargin)).as("p"))
      .select(col("p.a"), col("p.b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= 5)
    val biTot = toks
      .select(greatest(size(col("toks")) - 1, lit(0)).cast("long").as("nb"))
      .agg(sum(col("nb")).as("n2"))
    val scored = bi
      .join(uni.select(col("w").as("a"), col("cw").as("ca")), Seq("a"))
      .join(uni.select(col("w").as("b"), col("cw").as("cb")), Seq("b"))
      .crossJoin(broadcast(uniTot)).crossJoin(broadcast(biTot))
      .withColumn("pmi", round(log2(
        (col("cab") / col("n2")) /
          ((col("ca") / col("n1")) * (col("cb") / col("n1")))), 6) + lit(0.0))
      .withColumn("bigram", concat(col("a"), lit(" "), col("b")))
    // Top-20 via orderBy+limit (TakeOrderedAndProject: per-partition
    // heap + driver merge of 20-row heads), NEVER a global row_number
    // window — at corpus scale the set of bigram types with cab>=5 is
    // unbounded and a single-partition window over it is a scale-killer
    // (VERDICT r6 finding 1). The 20 survivors then get ranked by a
    // window that sees exactly 20 rows.
    val top = scored
      .select(col("bigram"), col("cab"), col("pmi"))
      .orderBy(col("pmi").desc, col("bigram").asc).limit(20)
    val ranked = top.withColumn("rank",
        row_number().over(Window.orderBy(col("pmi").desc, col("bigram").asc)).cast("long"))
      .select(col("rank"), col("bigram"), col("cab"), col("pmi"))
      .orderBy(col("rank"))
    // Perf property, not a correctness invariant (ADVICE r7): a plan
    // rendered without TakeOrderedAndProject (lowered
    // topKSortFallbackThreshold, plan-string change) should WARN, not
    // crash the query at construction time. QueriesSpec pins the
    // plan shape as a hard assertion in test scope.
    if (!top.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "text_pmi_collocations top-k did not compile to TakeOrderedAndProject; " +
          "check topKSortFallbackThreshold — a global window here is a scale-killer")
    ranked
  }

  private val textPmiCollocationsSql =
    """WITH t AS (
      | SELECT doc_id, list_filter(string_split_regex(lower(text),
      |   '[^a-z0-9]+'), x -> x <> '') AS toks
      | FROM documents),
      |uni AS (
      | SELECT w, count(*) AS cw FROM (
      |  SELECT unnest(toks) AS w FROM t) GROUP BY w),
      |n1 AS (SELECT CAST(sum(cw) AS BIGINT) AS n1 FROM uni),
      |bi AS (
      | SELECT bg, count(*) AS cab FROM (
      |  SELECT unnest(CASE WHEN len(toks) < 2 THEN []
      |    ELSE list_transform(range(1, len(toks)),
      |      i -> toks[i] || ' ' || toks[i + 1]) END) AS bg
      |  FROM t) GROUP BY bg HAVING count(*) >= 5),
      |n2 AS (
      | SELECT CAST(sum(greatest(len(toks) - 1, 0)) AS BIGINT) AS n2 FROM t),
      |sc AS (
      | SELECT bg AS bigram, cab,
      |  round(log2((cab * 1.0 / n2) /
      |    ((ua.cw * 1.0 / n1) * (ub.cw * 1.0 / n1))), 6) + 0 AS pmi
      | FROM bi
      | JOIN uni ua ON ua.w = string_split(bg, ' ')[1]
      | JOIN uni ub ON ub.w = string_split(bg, ' ')[2]
      | CROSS JOIN n1 CROSS JOIN n2)
      |SELECT CAST(row_number() OVER (ORDER BY pmi DESC, bigram) AS BIGINT)
      |   AS rank, bigram, cab, pmi
      |FROM sc QUALIFY rank <= 20 ORDER BY rank""".stripMargin

  // E28 — N-GRAM NOVELTY per document (the memorization-risk /
  // information-contribution metric: what fraction of a doc's
  // distinct 3-grams appear NOWHERE else in the corpus?): one
  // explode to distinct (doc, gram) pairs keyed by md5 (the 16-byte
  // digest rides the shuffle, never gram text), gram df by hash agg,
  // novelty = mean(df == 1) per doc — a doc full of corpus-unique
  // grams is contributing (or hallucinating) content; a doc at ~0 is
  // template/boilerplate. Complements C9 (corpus-level gram mass)
  // at the DOC level and E18 (within-doc repetition) with
  // CROSS-doc uniqueness.
  private def textNgramNovelty(s: SparkSession, dir: String): DataFrame = {
    // distinct word-3-gram identities per doc in one native pass —
    // the md5-of-exploded-string shape this replaces built one string
    // + one md5 per window; FNV-64 codes are an equally
    // collision-free identity and the outputs are counts only
    val grams = docs(s, dir)
      .select(col("doc_id"), explode(org.apache.spark.sql.GraftBridge.column(
        graft.functions.WordGramHashesExpr(
          org.apache.spark.sql.GraftBridge.expression(col("text")), 3))).as("gh"))
    val df = grams.groupBy(col("gh"))
      .agg(countDistinct(col("doc_id")).as("df"))
    grams.join(df, Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_grams"), 4))
      .transform(QueryShape.stagedSort(_, col("doc_id")))
  }

  private val textNgramNoveltySql =
    """WITH w AS (
      | SELECT doc_id,
      |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |    x -> x <> '') AS ws
      | FROM documents),
      |g AS (
      | SELECT DISTINCT doc_id, md5(unnest(
      |   list_transform(generate_series(0, len(ws) - 3),
      |     i -> array_to_string(ws[i + 1 : i + 3], ' ')))) AS gh
      | FROM w WHERE len(ws) >= 3),
      |f AS (SELECT gh, count(DISTINCT doc_id) AS df FROM g GROUP BY gh)
      |SELECT doc_id, count(*) AS n_grams,
      | CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      | round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |   / count(*), 4) AS novelty
      |FROM g JOIN f USING (gh)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // E29 — WATERMARK / synthetic-text detection (the Kirchenbauer
  // green-list z-test, the training-data hygiene check that keeps
  // watermarked LLM output OUT of a pretraining corpus): every
  // consecutive word bigram hashes through the corpus's own rolling
  // (acc·31+c) mod 1e9+7 fold (one native pass per doc —
  // WordShingleModHashesExpr k=2, ORDER preserved, no string explode);
  // a bigram is "green" when its hash ≡ 0 (mod 4), so unwatermarked
  // text greens at γ = 1/4 and the per-doc one-proportion z-score
  // z = (4g − T)/√(3T) is ~N(0,1) — generator-side green-list
  // sampling shows up as a fat right tail. The flag is the EXACT
  // integer test 4g > T ∧ (4g−T)² > 27T (⇔ z > 3; no float boundary
  // for the engines to disagree on), and the report is the top-20
  // right tail via orderBy+limit (TakeOrderedAndProject — per-
  // partition heaps, no global sort at 100 TB).
  private def textWatermarkDetect(s: SparkSession, dir: String): DataFrame = {
    val hs = docs(s, dir).select(col("doc_id"),
      org.apache.spark.sql.GraftBridge.column(
        graft.functions.WordShingleModHashesExpr(
          org.apache.spark.sql.GraftBridge.expression(col("text")), 2,
          distinct = false)).as("hs"))
    hs.select(col("doc_id"),
        size(col("hs")).cast("long").as("n_windows"),
        expr("CAST(size(filter(hs, x -> x % 4 = 0)) AS BIGINT)").as("n_green"))
      .filter(col("n_windows") > 0)
      .withColumn("z",
        (col("n_green") * 4 - col("n_windows")).cast("double")
          / sqrt(lit(3.0) * col("n_windows")))
      .withColumn("flagged",
        (col("n_green") * 4 > col("n_windows")) &&
          ((col("n_green") * 4 - col("n_windows"))
            * (col("n_green") * 4 - col("n_windows"))
            > col("n_windows") * 27))
      .orderBy(col("z").desc, col("doc_id"))
      .limit(20)
      .select(col("doc_id"), col("n_windows"), col("n_green"),
        (round(col("z"), 4) + lit(0.0)).as("z_score"), col("flagged"))
  }

  private val textWatermarkDetectSql =
    """WITH toks AS (
      | SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |   x -> x <> '') AS tk
      | FROM documents),
      |w AS (
      | SELECT doc_id, unnest(list_transform(
      |   generate_series(0, greatest(len(tk) - 2, 0)),
      |   i -> array_to_string(tk[i + 1 : i + 2], ' '))) AS shingle
      | FROM toks WHERE len(tk) >= 1),
      |h AS (
      | SELECT doc_id, list_reduce(
      |   list_prepend(7::BIGINT, list_transform(generate_series(1, length(shingle)),
      |     i -> ascii(substring(shingle, i, 1))::BIGINT)),
      |   (acc, c) -> (acc * 31 + c) % 1000000007) AS p
      | FROM w),
      |a AS (
      | SELECT doc_id, count(*) AS n_windows,
      |  CAST(sum(CASE WHEN p % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_green
      | FROM h GROUP BY doc_id),
      |z AS (
      | SELECT doc_id, n_windows, n_green,
      |  CAST(4 * n_green - n_windows AS DOUBLE) / sqrt(3.0 * n_windows) AS z,
      |  (4 * n_green > n_windows AND
      |   (4 * n_green - n_windows) * (4 * n_green - n_windows) > 27 * n_windows)
      |    AS flagged
      | FROM a)
      |SELECT doc_id, n_windows, n_green, round(z, 4) + 0 AS z_score, flagged
      |FROM z ORDER BY z DESC, doc_id LIMIT 20""".stripMargin

  // E30 — HTML BOILERPLATE EXTRACTION (the C4/RefinedWeb "main
  // content" step): web-scale corpora start as markup, and the first
  // pipeline stage separates prose from chrome (nav bars, link
  // farms, ad units, footers) by LINK DENSITY — the jusText/Arc90
  // heuristic family: a block whose anchor text is a large share of
  // its visible text is navigation, not content. The corpus here is
  // plain text, so the markup is a deterministic fixture (the same
  // contract as E9's injected PII): each doc renders as a nav bar +
  // one <p> per 8-word chunk — every 5th chunk (keyed by
  // doc_id + index) wrapped whole in an <a> to simulate a link-farm
  // block — + an ad div + a footer, one block per line. The
  // EXTRACTOR sees only the html string: per line it strips tags,
  // captures anchor text by regexp group, and keeps blocks with
  // >= 20 visible chars whose anchor share is < 1/3 (integer
  // arithmetic — 3*link_len < text_len — so both engines compare
  // exactly). Entirely codegen'd HOFs over the per-doc line array:
  // map-only, ZERO shuffle besides the output sort — boilerplate
  // removal is embarrassingly parallel and must stay that way at
  // 100 TB (HtmlExtractSpec pins the single-Exchange plan).
  private def textHtmlExtract(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
      .withColumn("w", expr("split(text, ' ')"))
      .withColumn("np", expr("greatest((size(w) + 7) DIV 8, 1)"))
      .withColumn("blocks", expr(
        """transform(sequence(0, np - 1), i -> CASE
          | WHEN (doc_id + i) % 5 = 0 THEN
          |  concat('<p><a href="#">',
          |         array_join(slice(w, i * 8 + 1, 8), ' '), '</a></p>')
          | ELSE concat('<p>', array_join(slice(w, i * 8 + 1, 8), ' '), '</p>')
          | END)""".stripMargin))
      .withColumn("html", expr(
        """concat('<nav><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></nav>',
          | chr(10), array_join(blocks, chr(10)), chr(10),
          | '<div><a href="#">Buy now</a> <a href="#">Subscribe</a></div>', chr(10),
          | '<footer><a href="/p">Privacy</a> <a href="/t">Terms</a> (c) ExampleCorp</footer>')""".stripMargin))
      .withColumn("lines", expr("split(html, chr(10))"))
      .withColumn("kept", expr(
        """filter(lines, x ->
          | length(regexp_replace(x, '<[^>]*>', '')) >= 20 AND
          | 3 * length(coalesce(
          |     array_join(regexp_extract_all(x, '<a[^>]*>([^<]*)</a>', 1), ''), ''))
          |   < length(regexp_replace(x, '<[^>]*>', '')))""".stripMargin))
      .withColumn("main", expr(
        "array_join(transform(kept, x -> regexp_replace(x, '<[^>]*>', '')), ' ')"))
      .select(col("doc_id"),
        size(col("lines")).cast("long").as("n_blocks"),
        size(col("kept")).cast("long").as("n_kept"),
        length(col("main")).cast("long").as("main_len"),
        (round(lit(1.0) - length(col("main")).cast("double") /
          greatest(length(regexp_replace(col("html"), "<[^>]*>", "")), lit(1)), 4)
          + lit(0.0)).as("boiler_ratio"),
        substring(md5(col("main")), 1, 8).as("main_fp"))
      .orderBy(col("doc_id"))
  }

  private val textHtmlExtractSql =
    """WITH base AS (
      | SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |p AS (
      | SELECT doc_id, w, greatest((len(w) + 7) // 8, 1) AS np FROM base),
      |b AS (
      | SELECT doc_id, list_transform(generate_series(0, np - 1), i -> CASE
      |   WHEN (doc_id + i) % 5 = 0 THEN
      |    concat('<p><a href="#">',
      |           array_to_string(list_slice(w, i * 8 + 1, i * 8 + 8), ' '), '</a></p>')
      |   ELSE concat('<p>',
      |           array_to_string(list_slice(w, i * 8 + 1, i * 8 + 8), ' '), '</p>')
      |   END) AS blocks
      | FROM p),
      |h AS (
      | SELECT doc_id,
      |  concat('<nav><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></nav>',
      |   chr(10), array_to_string(blocks, chr(10)), chr(10),
      |   '<div><a href="#">Buy now</a> <a href="#">Subscribe</a></div>', chr(10),
      |   '<footer><a href="/p">Privacy</a> <a href="/t">Terms</a> (c) ExampleCorp</footer>') AS html
      | FROM b),
      |l AS (
      | SELECT doc_id, html, string_split(html, chr(10)) AS lines FROM h),
      |k AS (
      | SELECT doc_id, html, lines, list_filter(lines, x ->
      |   length(regexp_replace(x, '<[^>]*>', '', 'g')) >= 20 AND
      |   3 * length(coalesce(
      |       array_to_string(regexp_extract_all(x, '<a[^>]*>([^<]*)</a>', 1), ''), ''))
      |     < length(regexp_replace(x, '<[^>]*>', '', 'g'))) AS kept
      | FROM l),
      |m AS (
      | SELECT doc_id, len(lines) AS n_blocks, len(kept) AS n_kept,
      |  coalesce(array_to_string(list_transform(kept, x ->
      |    regexp_replace(x, '<[^>]*>', '', 'g')), ' '), '') AS main,
      |  length(regexp_replace(html, '<[^>]*>', '', 'g')) AS total_len
      | FROM k)
      |SELECT doc_id, CAST(n_blocks AS BIGINT) AS n_blocks,
      | CAST(n_kept AS BIGINT) AS n_kept,
      | CAST(length(main) AS BIGINT) AS main_len,
      | round(1.0 - CAST(length(main) AS DOUBLE) / greatest(total_len, 1), 4) + 0
      |   AS boiler_ratio,
      | substring(md5(main), 1, 8) AS main_fp
      |FROM m ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_html_extract" -> (textHtmlExtract _),
    "text_watermark_detect" -> (textWatermarkDetect _),
    "text_ngram_novelty" -> (textNgramNovelty _),
    "text_pmi_collocations" -> (textPmiCollocations _),
    "text_rake_keywords" -> (textRakeKeywords _),
    "text_code_detect" -> (textCodeDetect _),
    "text_script_profile" -> (textScriptProfile _),
    "text_readability" -> (textReadability _),
    "text_entropy" -> (textEntropy _),
    "text_classifier_score" -> (textClassifierScore _),
    "text_bm25" -> (textBm25 _),
    "text_lexical_stats" -> (textLexicalStats _),
    "text_lm_score" -> (textLmScore _),
    "text_normalize" -> (textNormalize _),
    "text_langid" -> (textLangid _),
    "text_langid_ngram" -> (textLangidNgram _),
    "text_quality" -> (textQuality _),
    "text_tokens" -> (textTokens _),
    "text_fingerprint" -> (textFingerprint _),
    "text_tfidf" -> (textTfidf _),
    "text_bpe" -> (textBpe _),
    "text_bpe_encode" -> (textBpeEncode _),
    "text_bpe_artifact" -> (textBpeArtifact _),
    "text_bpe_perlang" -> (textBpePerLang _),
    "text_bpe_perlang_artifact" -> (textBpePerLangArtifact _),
    "text_hash_features" -> (textHashFeatures _),
    "text_repetition" -> (textRepetition _),
    "text_pii_scrub" -> (textPiiScrub _))

  val oracles: Map[String, String] = Map(
    "text_html_extract" -> textHtmlExtractSql,
    "text_watermark_detect" -> textWatermarkDetectSql,
    "text_ngram_novelty" -> textNgramNoveltySql,
    "text_pmi_collocations" -> textPmiCollocationsSql,
    "text_rake_keywords" -> textRakeKeywordsSql,
    "text_code_detect" -> textCodeDetectSql,
    "text_script_profile" -> textScriptProfileSql,
    "text_readability" -> textReadabilitySql,
    "text_entropy" -> textEntropySql,
    "text_classifier_score" -> textClassifierScoreSql,
    "text_bm25" -> textBm25Sql,
    "text_lexical_stats" -> textLexicalStatsSql,
    "text_lm_score" -> textLmScoreSql,
    "text_normalize" -> textNormalizeSql,
    "text_langid" -> textLangidSql,
    "text_langid_ngram" -> textLangidNgramSql,
    "text_quality" -> textQualitySql,
    "text_tokens" -> textTokensSql,
    "text_fingerprint" -> textFingerprintSql,
    "text_tfidf" -> textTfidfSql,
    "text_bpe" -> textBpeSql,
    "text_bpe_encode" -> textBpeEncodeSql,
    "text_bpe_artifact" -> textBpeArtifactSql,
    "text_bpe_perlang" -> textBpePerLangSql,
    "text_bpe_perlang_artifact" -> textBpePerLangArtifactSql,
    "text_hash_features" -> textHashFeaturesSql,
    "text_repetition" -> textRepetitionSql,
    "text_pii_scrub" -> textPiiScrubSql)
}
