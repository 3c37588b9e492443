package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.RkLsh

/** Text-analysis operators for a large-scale training-data pipeline,
  * over the `documents` table: language ID (stopword-marker heuristic),
  * quality scoring, token counting (whitespace + regex lexer), and
  * document fingerprinting (normalize-sort-dedupe key + rolling hash).
  *
  * Scale notes: every operator is a narrow map over one string column —
  * no shuffle at all except the fingerprint-collision groupBy, which
  * shuffles only (hash, doc_id) after map-side projection. All built-in
  * expressions, whole-stage codegen'd, linear in corpus size.
  */
object TextOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)

  private val words: Column = split(col("text"), " ")

  /** marker-stopword hit count for one language */
  // codegen'd count_in, not size(filter(isin)) — the HOF filter ran
  // its lambda interpreted per token × marker (optimization r13)
  private def hits(markers: Seq[String]): Column =
    call_function("count_in", words, typedLit(markers))

  private val enM = Seq("the", "and", "of", "to", "in")
  private val esM = Seq("el", "la", "de", "los", "que")
  private val deM = Seq("der", "und", "das", "ist", "nicht")
  private val frM = Seq("le", "et", "les", "des", "est")

  /** TA1 — language ID by n-gram/stopword scoring with a deterministic
    * priority tie-break (en > es > de > fr > und). */
  def ta1LangId(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark) // count_in
    docs(spark, dir)
      .withColumn("s_en", hits(enM)).withColumn("s_es", hits(esM))
      .withColumn("s_de", hits(deM)).withColumn("s_fr", hits(frM))
      .select(col("doc_id"), col("s_en"), col("s_es"), col("s_de"), col("s_fr"),
        when(col("s_en") + col("s_es") + col("s_de") + col("s_fr") === 0, "und")
          .when(col("s_en") >= greatest(col("s_es"), col("s_de"), col("s_fr")), "en")
          .when(col("s_es") >= greatest(col("s_de"), col("s_fr")), "es")
          .when(col("s_de") >= col("s_fr"), "de")
          .otherwise("fr").as("lang_pred"))
  }

  private def duckHits(l: String): String =
    s"len(list_filter(string_split(text, ' '), x -> list_contains($l, x)))"

  private val ta1Oracle =
    s"""WITH sc AS (
       |  SELECT doc_id,
       |         ${duckHits("['the','and','of','to','in']")} AS s_en,
       |         ${duckHits("['el','la','de','los','que']")} AS s_es,
       |         ${duckHits("['der','und','das','ist','nicht']")} AS s_de,
       |         ${duckHits("['le','et','les','des','est']")} AS s_fr
       |  FROM documents)
       |SELECT doc_id, s_en, s_es, s_de, s_fr,
       |       CASE WHEN s_en + s_es + s_de + s_fr = 0 THEN 'und'
       |            WHEN s_en >= greatest(s_es, s_de, s_fr) THEN 'en'
       |            WHEN s_es >= greatest(s_de, s_fr) THEN 'es'
       |            WHEN s_de >= s_fr THEN 'de'
       |            ELSE 'fr' END AS lang_pred
       |FROM sc""".stripMargin

  /** TA2 — quality scoring: length stats, mean word length, stopword
    * ratio, composite score in [0,1]. */
  def ta2Quality(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark) // count_in, sum_strlen
    docs(spark, dir)
      .withColumn("n_words", size(words).cast("long"))
      // sum_strlen: codegen'd Σ length(w) — the former
      // aggregate(transform(words, length)) HOF pair ran interpreted
      // per TOKEN and allocated a lengths array per doc (optimization r14)
      .withColumn("sum_word_len", call_function("sum_strlen", words))
      .withColumn("stop_hits", hits(enM).cast("long"))
      .select(col("doc_id"),
        length(col("text")).as("len_chars"),
        col("n_words"),
        // all ratios truncate in scaled-integer space (graft.ops.Exact):
        // int/int quotients terminate on round-half boundaries routinely
        Exact.intRatio(col("sum_word_len"), col("n_words")).as("avg_word_len"),
        Exact.intRatio(col("stop_hits"), col("n_words")).as("stopword_ratio"),
        // least(n/100,1)·(1−stop/n) = least(n,100)·(n−stop) / (100·n)
        Exact.intRatio(least(col("n_words"), lit(100L)) * (col("n_words") - col("stop_hits")),
          lit(100L) * col("n_words")).as("quality_score"))
  }

  private val ta2Oracle =
    s"""WITH t AS (
       |  SELECT doc_id, length(text) AS len_chars,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       |         CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS BIGINT) AS sum_word_len,
       |         CAST(${duckHits("['the','and','of','to','in']")} AS BIGINT) AS stop_hits
       |  FROM documents)
       |SELECT doc_id, len_chars, n_words,
       |       floor(sum_word_len * 1000000 / n_words) / 1000000 AS avg_word_len,
       |       floor(stop_hits * 1000000 / n_words) / 1000000 AS stopword_ratio,
       |       floor(least(n_words, 100) * (n_words - stop_hits) * 1000000
       |             / (100 * n_words)) / 1000000 AS quality_score
       |FROM t""".stripMargin

  /** TA3 — token counting: whitespace tokens + a BPE-ish regex lexer
    * (letter runs / digit runs / single other chars). */
  def ta3TokenCount(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"),
      size(split(col("text"), " ")).as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("re_tokens"))

  private val ta3Oracle =
    """SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
      |       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens
      |FROM documents""".stripMargin

  /** TA4 — fingerprinting: normalize → sort → dedupe words (key-collision
    * fingerprint); docs sharing a key are near-identical bags of words. */
  def ta4Fingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("fp", array_join(sort_array(array_distinct(words)), " "))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_docs"))
      .select(col("keep_doc_id"), col("n_docs"), substring(col("fp"), 1, 64).as("fp_prefix"))

  private val ta4Oracle =
    """WITH f AS (
      |  SELECT doc_id,
      |         array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS fp
      |  FROM documents)
      |SELECT min(doc_id) AS keep_doc_id, count(*) AS n_docs, substr(fp, 1, 64) AS fp_prefix
      |FROM f GROUP BY fp""".stripMargin

  /** TA5 — rolling-hash fingerprint: Rabin–Karp polynomial word hashes
    * (per-char fold mod 2^40) folded over word 4-gram shingles,
    * min-anchored winnowing (`min_hash`) plus a whole-document fold
    * (`full_hash`). Computed by the codegen-friendly
    * [[graft.functions.RollingHashFp]] expression — the arithmetic is
    * engine-neutral by construction (every step reduces mod 2^40, so
    * the identical integer sequence is expressible in DuckDB:
    * acc·31 + code < 2^45, acc·1000003 + h < 2^60), which makes ta5
    * fully oracle-checked where the round-1 xxhash64 formulation was
    * engine-specific and rows-only. The 2^40 modulus keeps the birthday
    * bound comfortable for corpus-scale distinct-text counts
    * (5000² / 2^41 ≈ 1e-5). An equivalent pure-Column formulation
    * (transform/aggregate HOFs) ran its per-char lambda interpreted at
    * ~7 s for sf1; the expression does the same folds in one compiled
    * pass. */
  def ta5RollingHash(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    docs(spark, dir)
      .withColumn("fp", call_function("rolling_hash", words, lit(4)))
      .select(col("doc_id"),
        element_at(col("fp"), 1).as("min_hash"),
        element_at(col("fp"), 2).as("full_hash"))
  }

  private val ta5Oracle =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |wh AS (SELECT doc_id,
       |         list_transform(w, wd -> ${RkLsh.wordSql}) AS hs,
       |         len(w) AS nw
       |       FROM t)
       |SELECT doc_id,
       |       list_min(${RkLsh.shinglesSql("hs", "nw", 4)}) AS min_hash,
       |       ${RkLsh.foldSql("hs", RkLsh.MUL)} AS full_hash
       |FROM wh""".stripMargin

  /** word-2-gram occurrence array over a MATERIALIZED words column `w`
    * (NOT deduplicated — frequency counting wants every occurrence,
    * unlike the dedup shingle sets). `w` must be a real column, not the
    * split expression: referencing `split(text)` inside the lambda body
    * would re-evaluate the split once PER ELEMENT (O(words²) per doc —
    * measured 24 s for ng1 at sf1 vs ~2 s materialized; the qt1 lesson
    * again). Multiple non-cheap references keep CollapseProject from
    * re-inlining the split. */
  // word_pairs(w, 2): codegen'd bigram strings — the former
  // when/transform/concat_ws chain ran interpreted per token
  // (optimization r13); n<2 → empty array is built into the expression
  private val bigramsW: Column =
    call_function("word_pairs", col("w"), lit(2))

  /** NG1 — corpus-wide n-gram vocabulary heavy hitters: count every
    * word-bigram occurrence, keep the top 100 by (count desc, ngram) —
    * the corpus-statistics pass a BPE/vocab builder runs first. Plan:
    * generator explode → hash aggregate with map-side partials (the
    * shuffle carries one (ngram, partial_count) row per map task, not
    * the token stream) → TakeOrderedAndProject (each partition ships
    * only its own top-100 to the driver — never a global sort). */
  def ng1NgramTopk(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark) // word_pairs
    docs(spark, dir)
      .withColumn("w", words)
      .select(explode(bigramsW).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram"))
      .limit(100)
  }

  private val ng1Oracle =
    """WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents),
      |ng AS (SELECT unnest(list_transform(range(1, len(w)),
      |                i -> array_to_string(w[i:i+1], ' '))) AS ngram
      |       FROM toks WHERE len(w) >= 2)
      |SELECT ngram, CAST(count(*) AS BIGINT) AS cnt
      |FROM ng GROUP BY ngram
      |ORDER BY cnt DESC, ngram LIMIT 100""".stripMargin

  /** REP1 — within-document repetition ratios (the Gopher-family
    * quality rule "drop documents whose duplicate-line/-n-gram fraction
    * is high"): fraction of word and bigram occurrences that are
    * repeats of an earlier occurrence in the same document. Pure narrow
    * map — per-row array ops, zero shuffle, codegen'd. */
  def rep1Repetition(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark) // word_pairs
    docs(spark, dir)
      .withColumn("w", words)
      .withColumn("nw", size(col("w")).cast("long"))
      .withColumn("ng", bigramsW)
      .select(col("doc_id"), col("nw").as("n_words"),
        Exact.intRatio(col("nw") - size(array_distinct(col("w"))),
          col("nw")).as("dup_word_ratio"),
        Exact.intRatio(size(col("ng")) - size(array_distinct(col("ng"))),
          greatest(size(col("ng")), lit(1)).cast("long")).as("dup_bigram_ratio"))
  }

  private val rep1Oracle =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT doc_id, w,
      |        CASE WHEN len(w) >= 2
      |             THEN list_transform(range(1, len(w)),
      |                    i -> array_to_string(w[i:i+1], ' '))
      |             ELSE [] END AS ng
      |      FROM t)
      |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
      |       floor((len(w) - len(list_distinct(w))) * 1000000
      |             / len(w)) / 1000000 AS dup_word_ratio,
      |       floor((len(ng) - len(list_distinct(ng))) * 1000000
      |             / greatest(len(ng), 1)) / 1000000 AS dup_bigram_ratio
      |FROM g""".stripMargin

  private val VOCAB_TOPK = 16

  /** TA6 — common-word ratio: the fraction of a document's tokens that
    * fall in the corpus-wide top-K vocabulary — the complement of the
    * rare/garbage-token rate, a standard LM-quality signal that (unlike
    * ta2's per-document stats) needs a CORPUS-level statistics pass
    * joined back per document.
    *
    * Shape: the vocabulary pass is ng1's (explode → partial-agg →
    * TakeOrdered top-K, deterministic tie-break (count desc, word));
    * the K surviving words collapse to ONE array row that BROADCASTS
    * onto a narrow per-document map — the corpus is never shuffled and
    * never joined row-to-row against the vocabulary. Entirely lazy:
    * no driver-side collect anywhere. */
  def ta6CommonRatio(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark) // count_in
    val top = docs(spark, dir).select(explode(words).as("wd"))
      .groupBy(col("wd")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("wd")).limit(VOCAB_TOPK)
      .agg(sort_array(collect_list(col("wd"))).as("tl"))
    docs(spark, dir).withColumn("w", words)
      .crossJoin(broadcast(top))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        // count_in replaces filter(x => array_contains(tl, x)): 64
        // interpreted comparisons per token → one codegen'd loop
        call_function("count_in", col("w"), col("tl")).as("common_hits"))
      .withColumn("common_ratio", Exact.intRatio(col("common_hits"), col("n_tokens")))
  }

  private val ta6Oracle =
    s"""WITH v AS (SELECT unnest(string_split(text, ' ')) AS wd FROM documents),
       |top AS (SELECT wd FROM v GROUP BY wd ORDER BY count(*) DESC, wd LIMIT $VOCAB_TOPK),
       |tv AS (SELECT list(wd) AS tl FROM top),
       |t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
       |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
       |       CAST(len(list_filter(w, x -> list_contains(tv.tl, x))) AS BIGINT) AS common_hits,
       |       floor(len(list_filter(w, x -> list_contains(tv.tl, x))) * 1000000
       |             / len(w)) / 1000000 AS common_ratio
       |FROM t CROSS JOIN tv""".stripMargin

  private val COOC_MIN_SUPPORT = 5
  private val COOC_TOPK = 100

  /** COOC1 — word-association statistics (PMI-style lift over adjacent
    * pairs): the corpus-statistics pass an embedding-training pipeline
    * (GloVe-family) runs to build its co-occurrence matrix, scored here
    * as lift = P(x,y) / (P(x)·P(y)) — the exponent of PMI, computed in
    * EXACT integer-valued double arithmetic (counts < 2^53 are exact in
    * IEEE doubles and both engines divide them in the identical order,
    * so `floor(·1e6)` hash-matches without any log()).
    *
    * Shape: one pair aggregate (the only corpus-sized shuffle), then
    * the vocabulary-sized unigram counts join back ×2 behind ONE
    * [[Model.fits]] check (broadcast while provably small; a web-scale
    * vocabulary past the guard degrades to the planner's shuffle join
    * instead of an OOM); the 1-row total stays a hinted broadcast, and
    * the top-K is TakeOrdered — never a global sort. */
  def cooc1PairLift(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark) // word_pairs
    val t = docs(spark, dir).withColumn("w", words)
    val uni = t.select(explode(col("w")).as("wd"))
    val ucnt = uni.groupBy(col("wd")).agg(count(lit(1)).as("c"))
    // total token count from the vocab model, not a second corpus pass
    // (optimization r13): Σ c over the persisted ucnt table is the same
    // nt the separate uni.count() job re-scanned every document for
    val n = ucnt.agg(sum(col("c")).as("nt"))
    // word_pairs(w, 1): codegen'd canonical bigram pass — the
    // transform-of-sequence form ran least/greatest interpreted per
    // token (optimization r13)
    val bg = t.filter(size(col("w")) >= 2)
      .select(explode(call_function("word_pairs", col("w"), lit(1))).as("u"))
    val pc = bg.select(col("u.x").as("x"), col("u.y").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("cxy"))
    val fits = Model.fits(ucnt)
    def maybe(df: DataFrame): DataFrame = if (fits) broadcast(df) else df
    // support filter BEFORE the joins (optimization r13): it reads only
    // pc's own count, so filtering first shrinks both join inputs
    pc.filter(col("cxy") >= COOC_MIN_SUPPORT)
      .join(maybe(ucnt.select(col("wd").as("x"), col("c").as("cx"))), "x")
      .join(maybe(ucnt.select(col("wd").as("y"), col("c").as("cy"))), "y")
      .crossJoin(broadcast(n))
      // cxy·nt < 2^53 and the ÷cx ÷cy ·1e6 chain is evaluated in the
      // same order as the oracle — identical doubles, unambiguous floor
      .withColumn("lift", floor(col("cxy").cast("double") * col("nt")
        / col("cx") / col("cy") * 1000000) / 1e6)
      .orderBy(col("lift").desc, col("x"), col("y")).limit(COOC_TOPK)
      .select(col("x"), col("y"), col("cxy"), col("lift"))
  }

  private val cooc1Oracle =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |uni AS (SELECT unnest(w) AS wd FROM t),
       |ucnt AS (SELECT wd, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY wd),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM uni),
       |bg AS (SELECT unnest(list_transform(range(1, len(w)),
       |         i -> {'x': least(w[CAST(i AS INT)], w[CAST(i+1 AS INT)]),
       |               'y': greatest(w[CAST(i AS INT)], w[CAST(i+1 AS INT)])})) AS u
       |       FROM t WHERE len(w) >= 2),
       |pc AS (SELECT u.x AS x, u.y AS y, CAST(count(*) AS BIGINT) AS cxy FROM bg GROUP BY 1, 2)
       |SELECT x, y, cxy,
       |       floor(CAST(cxy AS DOUBLE) * nt / a.c / b.c * 1000000) / 1000000 AS lift
       |FROM pc JOIN ucnt a ON pc.x = a.wd JOIN ucnt b ON pc.y = b.wd CROSS JOIN n
       |WHERE cxy >= $COOC_MIN_SUPPORT
       |ORDER BY lift DESC, x, y LIMIT $COOC_TOPK""".stripMargin

  private val POSTINGS_HEAD = 16

  /** IDX1 — inverted-index construction: per word, its document
    * frequency and the head of its sorted posting list — the index
    * pass retrieval-augmented pipelines and exact-match
    * decontamination tooling build over a corpus.
    *
    * Shape: a (word, doc_id) distinct aggregate (map-side partial
    * distinct), then per-word df + a BOUNDED posting head via the
    * TopNByKey sketch — per-task buffers hold at most HEAD entries per
    * word, so no reducer ever materializes a full posting list (at
    * corpus scale full postings are sharded storage, not one row; the
    * head column is emitted as a comma-joined string because the
    * compare gate hashes scalars). */
  def idx1InvertedIndex(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    docs(spark, dir).select(col("doc_id"), explode(words).as("word"))
      .groupBy(col("word"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("df"),
        sum(col("tf")).as("cf"),
        call_function("topn_by_key", col("doc_id"), col("doc_id"),
          lit(POSTINGS_HEAD)).as("head"))
      .select(col("word"), col("df"), col("cf"),
        array_join(col("head"), ",").as("postings_head"))
  }

  private val idx1Oracle =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
       |SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
       |       CAST(count(*) AS BIGINT) AS cf,
       |       array_to_string((list(DISTINCT doc_id ORDER BY doc_id))[1:$POSTINGS_HEAD], ',')
       |         AS postings_head
       |FROM tok GROUP BY word""".stripMargin

  /** words with cnt ≤ TOK_TAIL sub-bucket by first codepoint: the Zipf
    * tail (cnt=1,2,…) holds most of a web-scale vocabulary, so one
    * bucket per cnt value would put half the vocab in one task */
  private val TOK_TAIL = 8L

  /** TOK1 — vocabulary-id encoding: THE tokenize step between curation
    * and packing — build a frequency-ranked vocabulary, then rewrite
    * every document as its id sequence. Ids are dense ranks by
    * (count desc, word), so the "model artifact" is engine-neutral and
    * the encoded sequences hash-match the oracle (head + a mod-2^40
    * fold of the FULL sequence, so the whole encoding is compared, not
    * a prefix).
    *
    * Shape (the shf1 two-phase recipe — a naive
    * `row_number().over(Window.orderBy(…))` funnels the whole
    * vocabulary through ONE reducer, and packing the word→id map into
    * one map-typed broadcast row dies at web-scale vocab: 2 GB
    * single-row limit, then the 8 GB broadcast cap):
    *  1. deterministic buckets over the sort key — one bucket per cnt
    *     for the small high-frequency groups, (cnt, first codepoint)
    *     for the massive low-frequency tail (UTF-8 binary string order
    *     is codepoint order, so bucket order extends word order);
    *     per-bucket COUNTS collect to the driver (bucket-count rows of
    *     model state, not the vocabulary) and prefix-sum into offsets;
    *  2. a WITHIN-bucket window ranks in parallel; rank + offset is
    *     exactly the global row_number.
    * Encoding is then an ordinary (token → id) equi-join behind
    * [[Model.guardedBroadcast]] — a provably-small vocabulary
    * broadcasts (saving the token-stream join shuffle), a web-scale
    * one falls back to the planner's shuffle join — and a per-document
    * groupBy reassembles the sequence (array_sort on (pos, id)
    * restores document order; the collected row is document-sized, the
    * same bound as the output). */
  def tok1VocabEncode(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    graft.functions.GraftFunctions.registerAll(spark) // id_fold
    val t = docs(spark, dir).withColumn("w", words)
    // pinned (optimization r13): the word-count table feeds BOTH the
    // offset collect below and the vocab build — unpinned, each ran its
    // own full corpus unigram pass; pinned, the offset collect is the
    // one materialization and the vocab build reads the cache
    val vc = Model.pin(t.select(explode(col("w")).as("wd"))
      .groupBy(col("wd")).agg(count(lit(1)).as("cnt"))
      .withColumn("sub",
        when(col("cnt") <= TOK_TAIL, ascii(col("wd"))).otherwise(lit(-1))))
    var acc = 0L
    val offRows = vc.groupBy(col("cnt"), col("sub")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy { case (c, s, _) => (-c, s) }
      .map { case (c, s, n) => val o = acc; acc += n; (c, s, o) }
    val offs = offRows.toSeq.toDF("cnt", "sub", "off")
    val vocab = vc.join(broadcast(offs), Seq("cnt", "sub"))
      .withColumn("id", row_number().over(
        Window.partitionBy(col("cnt"), col("sub")).orderBy(col("wd"))).cast("long")
        + col("off"))
      .select(col("wd"), col("id"))
    t.select(col("doc_id"), posexplode(col("w"))).withColumnRenamed("col", "wd")
      .join(Model.guardedBroadcast(vocab), "wd")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("id")))).as("ps"))
      // getField on an array<struct> is the codegen'd
      // GetArrayStructFields — the transform(ps, x.getField) lambda it
      // replaces ran interpreted per token (optimization r14)
      .withColumn("ids", col("ps").getField("id"))
      .select(col("doc_id"),
        size(col("ids")).cast("long").as("n_tokens"),
        array_join(slice(col("ids"), 1, 16), ",").as("ids_head"),
        // id_fold: codegen'd (a*1000003+x) % 2^40 wire fold — the
        // aggregate HOF it replaces ran interpreted per token
        // (optimization r14)
        call_function("id_fold", col("ids")).as("ids_fold"))
  }

  /** the tok* id-sequence fold, the DuckDB form of `id_fold` */
  private val idsFoldSql = RkLsh.foldSql("ids", RkLsh.MUL)

  private val tok1Oracle =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |uni AS (SELECT unnest(w) AS wd FROM t),
       |vocab AS (SELECT wd, CAST(row_number() OVER (ORDER BY count(*) DESC, wd) AS BIGINT) AS id
       |          FROM uni GROUP BY wd),
       |tok0 AS (SELECT doc_id, unnest(list_transform(range(1, len(w) + 1),
       |           i -> {'pos': i, 'wd': w[CAST(i AS INT)]})) AS u FROM t),
       |tok AS (SELECT doc_id, u.pos AS pos, v.id AS id
       |        FROM tok0 JOIN vocab v ON u.wd = v.wd),
       |enc AS (SELECT doc_id, list(id ORDER BY pos) AS ids FROM tok GROUP BY doc_id)
       |SELECT doc_id, CAST(len(ids) AS BIGINT) AS n_tokens,
       |       array_to_string(ids[1:16], ',') AS ids_head,
       |       $idsFoldSql AS ids_fold
       |FROM enc""".stripMargin

  /** tok2's vocabulary cap. The production contract is 32k-256k
    * entries; the default stays 16 so the driver-SF corpus is mostly
    * OOV and the contract's distinctive parts (reserved id 0, per-doc
    * OOV counts) are actually exercised there. Scale runs override via
    * -Dgraft.tok2.cap or SPARK_GRAFT_TOK2_CAP — a `def`, so the query
    * reads it at build time (PlanSpec pins the 32k shape in-process),
    * and the oracle SQL interpolates the same value in the same JVM,
    * so overridden Verify runs stay hash-checkable. Any cap is still a
    * CONSTANT: TakeOrdered + broadcast stays the right plan (256k ids
    * ≈ a few MB, far under the 8 GB broadcast ceiling tok1's
    * corpus-derived vocabulary can pierce). */
  private def TOK2_CAP: Int =
    sys.props.get("graft.tok2.cap").orElse(sys.env.get("SPARK_GRAFT_TOK2_CAP"))
      .map(_.toInt).getOrElse(16)

  /** TOK2 — capped-vocabulary encoding with OOV: the production
    * tokenizer contract — a FIXED vocabulary size (the top-CAP words
    * by (count desc, word); real tokenizers ship 32k-256k entries),
    * with every out-of-vocabulary token mapping to the reserved id 0.
    * Adds the per-document OOV count — the coverage metric vocab-size
    * decisions are made on.
    *
    * The cap inverts tok1's scale shape: the vocabulary is bounded by
    * a CONSTANT, so TakeOrdered (per-partition heaps, no global sort)
    * plus a BROADCAST left join is the right plan at any corpus size,
    * and the id-rank window runs over ≤CAP rows of model state (the
    * bounded-broadcast class of ta6's top-16, NOT the corpus-derived
    * class tok1/lm1 must avoid). Reassembly is the tok1 groupBy. */
  def tok2CappedEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.GraftFunctions.registerAll(spark) // id_fold, long_count_eq
    val t = docs(spark, dir).withColumn("w", words)
    // ids are assigned on the COLLECTED capped vocabulary — ≤CAP rows
    // of driver-held model state (the tok1 offset-table precedent).
    // The previous bounded-but-global row_number() window still made
    // WindowExec print its single-partition warning on every run,
    // burying real warnings in bench tails; driver-side enumeration of
    // a constant-bounded model table is warning-free and plan-free.
    // the tie-break re-sort uses UTF-8 byte order (Exact.utf8Order) so
    // driver-assigned ids agree with the engine-side ORDER BY that
    // selected the top-CAP set (Scala's default string Ordering is
    // UTF-16 code-unit order, which disagrees past the BMP)
    val top = t.select(explode(col("w")).as("wd"))
      .groupBy(col("wd")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("wd")).limit(TOK2_CAP)
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (wd, cnt) => (-cnt, wd) }(
        Ordering.Tuple2(Ordering.Long, Exact.utf8Order))
    val vocab = top.zipWithIndex
      .map { case ((wd, _), i) => (wd, i + 1L) }.toSeq.toDF("wd", "id")
    t.select(col("doc_id"), posexplode(col("w"))).withColumnRenamed("col", "wd")
      .join(broadcast(vocab), Seq("wd"), "left")
      .withColumn("id", coalesce(col("id"), lit(0L)))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("id")))).as("ps"))
      .withColumn("ids", col("ps").getField("id")) // codegen'd GetArrayStructFields (r14)
      .select(col("doc_id"),
        size(col("ids")).cast("long").as("n_tokens"),
        // long_count_eq / id_fold: codegen'd twins of the
        // size(filter(...)) and aggregate HOFs, which ran interpreted
        // per token (optimization r14)
        call_function("long_count_eq", col("ids"), lit(0L)).as("n_oov"),
        array_join(slice(col("ids"), 1, 16), ",").as("ids_head"),
        call_function("id_fold", col("ids")).as("ids_fold"))
  }

  private val tok2Oracle =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |uni AS (SELECT unnest(w) AS wd FROM t),
       |vc AS (SELECT wd, CAST(count(*) AS BIGINT) AS cnt FROM uni GROUP BY wd),
       |vocab AS (SELECT wd, CAST(row_number() OVER (ORDER BY cnt DESC, wd) AS BIGINT) AS id
       |          FROM vc ORDER BY cnt DESC, wd LIMIT $TOK2_CAP),
       |tok0 AS (SELECT doc_id, unnest(list_transform(range(1, len(w) + 1),
       |           i -> {'pos': i, 'wd': w[CAST(i AS INT)]})) AS u FROM t),
       |tok AS (SELECT doc_id, u.pos AS pos, coalesce(v.id, CAST(0 AS BIGINT)) AS id
       |        FROM tok0 LEFT JOIN vocab v ON u.wd = v.wd),
       |enc AS (SELECT doc_id, list(id ORDER BY pos) AS ids FROM tok GROUP BY doc_id)
       |SELECT doc_id, CAST(len(ids) AS BIGINT) AS n_tokens,
       |       CAST(len(list_filter(ids, x -> x = 0)) AS BIGINT) AS n_oov,
       |       array_to_string(ids[1:16], ',') AS ids_head,
       |       $idsFoldSql AS ids_fold
       |FROM enc""".stripMargin

  /** tok3/tok4's merge-step count. Production BPE vocabularies run
    * 10k-50k merges; 8 keeps the unrolled DuckDB oracle (one CTE block
    * per merge step) readable while exercising every distinct shape the
    * loop has — including overlapping-pair greediness once a merged
    * symbol can pair with itself. The machinery is count-independent:
    * each step is the same one aggregate + one narrow map whatever the
    * step number. */
  private val BPE_MERGES = 8

  /** The distinct-word frequency table that BPE training actually runs
    * on — the standard trick (Sennrich et al. 2016, learn_bpe) that
    * makes the iterative loop corpus-size-independent: the corpus is
    * scanned ONCE for word counts; every merge iteration then works on
    * the vocabulary-sized (word, cnt, symbols) table, never the corpus.
    * Initial symbols are the word's characters (split-empty keeps no
    * empty strings). */
  private def bpeInitialWords(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(explode(words).as("wd"))
      .groupBy(col("wd")).agg(count(lit(1)).as("cnt"))
      .withColumn("syms", filter(split(col("wd"), ""), x => x =!= ""))

  /** One BPE merge applied to a symbol array as a codegen-friendly
    * left fold (functions.aggregate — narrow, no shuffle): append each
    * symbol, but when the accumulator's LAST symbol is `l` and the
    * incoming one is `r`, replace the pair with the merged symbol.
    * This is exactly greedy left-to-right NON-OVERLAPPING merging
    * ([a,a,a,a] merging (a,a) → [aa,aa], not [aa,a,a]): a merge
    * rewrites the accumulator's tail to `l+r` ≠ `l`, so the next
    * symbol cannot re-use the consumed occurrence — the restart rule
    * of the reference BPE implementation. BpeSpec pins the fold
    * against an imperative reference on exhaustive small inputs; the
    * DuckDB oracle reaches the same semantics with run-parity window
    * functions (merge at every 2nd position of each maximal run of
    * overlapping matches). */
  private[graft] def bpeMergeFold(syms: Column, l: String, r: String): Column =
    // bpe_merge: the codegen'd one-pass form (optimization r14) of the
    // former aggregate fold, which ran interpreted AND allocated a
    // fresh accumulator array per element — O(L²) per word per merge.
    // Identical greedy non-overlapping restart semantics; BpeSpec pins
    // the fold against the imperative reference, ArrayFoldsSpec against
    // the HOF form itself. Callers register GraftFunctions.
    call_function("bpe_merge", syms, lit(l), lit(r))

  /** The shared trainer: BPE_MERGES frequency-ranked pair merges.
    * Each iteration: one pair-count aggregate over the DISTINCT-WORD
    * table (pairs weighted by word frequency — all adjacent positions
    * count, the reference's statistic), a 1-ROW collect of the winner
    * (freq DESC, then (l, r) lexicographic — the engine-neutral
    * tie-break), then the merge fold as a narrow map. Driver state is
    * BPE_MERGES winner rows — model state, not data. At 100 TB the
    * word table is web-vocabulary-sized (~10⁸ rows worst case), so
    * every per-iteration job is a small shuffle of (l, r, cnt) triples;
    * the corpus itself is touched exactly once, in
    * [[bpeInitialWords]]'s word-count aggregate. */
  /** A trained tokenizer model: the merge sequence plus the
    * vocabulary-sized word→subtoken-count table (persisted). */
  private[graft] final case class BpeModel(
      dir: String,
      merges: Seq[(Long, String, String, String, Long)],
      subs: DataFrame,
      nSubs: Long)

  /** Tokenizer-model registry: training happens ONCE per corpus and
    * every encoder reuses the artifact — the deployment shape of every
    * production tokenizer (train offline, ship the merge table).
    * [[tok3BpeTrain]] always retrains (it IS the training operator —
    * its bench number stays the honest training cost) and publishes
    * the model; [[tok4BpeEncode]] encodes under the registered model,
    * training only on a cache miss. Training is fully deterministic,
    * so reuse cannot change any result — the oracle replays the same
    * unrolled merges either way. Memory held is one vocabulary-sized
    * (word, n_sub) table, model state by the same argument as tok1's
    * vocab table. The table is persisted HERE, with its cardinality
    * recorded, so encoders use [[Model.guardedBroadcastKnown]] — the
    * per-query [[Model.release]] sweep must not evict a registry
    * table, and no re-count job is needed per encode. The table goes
    * with its entry ([[KeyedCache]]), except when tok3's retrain
    * rebuilds the identical plan. */
  private[graft] val bpeCache = new KeyedCache[BpeModel](4, m => Seq(m.subs))

  private def trainBpe(spark: SparkSession, dir: String): BpeModel = {
    val (merges, wt, anchored) = trainLoop(spark, dir)
    val subs = wt
      .select(col("wd"), size(col("syms")).cast("long").as("n_sub"))
    // an explicit tok3 retrain rebuilds the same deterministic plan the
    // registry already holds cached — storageLevel's semantic lookup
    // skips the re-persist (which would only WARN and double-register)
    if (subs.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
      subs.persist(); ()
    }
    val nSubs = subs.count()
    anchored.unpersist()
    BpeModel(dir, merges, subs, nSubs)
  }

  private def bpeModel(spark: SparkSession, dir: String): BpeModel =
    bpeCache.getOrBuild(spark, dir)(trainBpe(spark, dir))

  /** test hook: drop every registered tokenizer model (unpersisting
    * its table), forcing the next call to retrain */
  private[graft] def resetModelRegistry(): Unit = bpeCache.clear()

  /** the registered (or trained-on-miss) model's persistable parts —
    * [[graft.ops.ModelStore]]'s export surface */
  private[graft] def exportBpeModel(spark: SparkSession, dir: String)
      : (Seq[(Long, String, String, String, Long)], DataFrame) = {
    val m = bpeModel(spark, dir)
    (m.merges, m.subs)
  }

  /** install an externally-loaded tokenizer model (the serve-side of
    * [[graft.ops.ModelStore]]): persist + count its table here, so the
    * registry's invariants (cardinality known, eviction unpersists)
    * hold exactly as for a model trained in-process */
  private[graft] def installBpeModel(dir: String,
      merges: Seq[(Long, String, String, String, Long)],
      subs: DataFrame): Unit = {
    val s = subs.persist()
    val n = s.count()
    bpeCache.put(s.sparkSession, dir, BpeModel(dir, merges, s, n))
  }

  /** Re-materialize the fold chain every this-many merge steps. The
    * per-step pair aggregate reads the CURRENT symbol table; holding it
    * as a lazy fold chain over the one persisted word table makes each
    * iteration ONE job (the aggregate, replaying ≤ CHECKPOINT_EVERY
    * narrow folds in-scan) instead of two (a persist materialization +
    * the aggregate) — measured faster at BPE_MERGES=8, where job
    * latency beats the replayed narrow maps. The periodic persist
    * exists for the production merge counts (10k-50k): unbounded fold
    * nesting would blow both the plan and codegen depth, so lineage is
    * cut every CHECKPOINT_EVERY steps. */
  private val BPE_CHECKPOINT_EVERY = 8

  private def trainLoop(spark: SparkSession, dir: String)
      : (Seq[(Long, String, String, String, Long)], DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.registerAll(spark) // bpe_merge
    val base = bpeInitialWords(spark, dir).persist()
    base.count()
    var wt = base
    var anchored = base // the persisted table the current fold chain hangs off
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= BPE_MERGES && !exhausted) {
      val top = wt.select(col("cnt"), explode(expr(
          "transform(slice(syms, 1, size(syms) - 1), " +
            "(s, i) -> struct(s AS l, element_at(syms, i + 2) AS r))")).as("p"))
        .select(col("cnt"), col("p.l").as("l"), col("p.r").as("r"))
        .groupBy(col("l"), col("r")).agg(sum(col("cnt")).as("freq"))
        .orderBy(col("freq").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true // every word is one symbol — nothing left to merge
      else {
        val (l, r, f) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((step.toLong, l, r, l + r, f))
        wt = wt.withColumn("syms", bpeMergeFold(col("syms"), l, r))
        if (step % BPE_CHECKPOINT_EVERY == 0) {
          val cut = wt.persist()
          cut.count()
          anchored.unpersist()
          anchored = cut
          wt = cut
        }
        step += 1
      }
    }
    // the caller unpersists `anchored` once it has materialized what it
    // needs from `wt` (which may be a lazy fold chain hanging off it)
    (merges.toSeq, wt, anchored)
  }

  /** TOK3 — BPE merge TRAINING: the iterative byte-pair-encoding merge
    * loop every production LLM tokenizer is built from, as a
    * distributed algorithm. Output is the learned merge table — one
    * row per step with the merged pair and its frequency at selection
    * time — which IS the tokenizer model artifact (applying the merges
    * in step order tokenizes any text). Fully deterministic (integer
    * counts, lexicographic tie-break), so the whole training loop is
    * oracle-checkable: the DuckDB twin unrolls all BPE_MERGES
    * iterations and must reproduce the identical merge sequence. */
  def tok3BpeTrain(spark: SparkSession, dir: String): DataFrame = {
    val model = bpeCache.rebuild(spark, dir)(trainBpe(spark, dir))
    import spark.implicits._
    model.merges.toDF("step", "lft", "rgt", "merged", "freq")
  }

  /** TOK4 — encoding under the tok3-learned merges: per-document word
    * count, BPE token count, and an order-sensitive fold of the
    * per-word subtoken counts (so the full per-position segmentation
    * is hash-compared, not just totals). The word→subtoken-count map
    * comes from the [[bpeCache]] — tok4 does NOT retrain when a
    * model for this corpus already exists (the deployment contract:
    * tokenizers are trained once, encode forever) — and sits behind
    * [[Model.guardedBroadcastKnown]] (tok1's encode-join contract:
    * broadcast while provably small, planner shuffle join at web
    * scale); the corpus side is one posexplode + the standard
    * reassembly groupBy. */
  def tok4BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark) // array_sum_long, id_fold
    val model = bpeModel(spark, dir)
    docs(spark, dir).select(col("doc_id"), posexplode(words))
      .withColumnRenamed("col", "wd")
      .join(Model.guardedBroadcastKnown(model.subs, model.nSubs), "wd")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("n_sub")))).as("ps"))
      .withColumn("ns", col("ps").getField("n_sub")) // codegen'd GetArrayStructFields (r14)
      .select(col("doc_id"),
        size(col("ns")).cast("long").as("n_words"),
        // codegen'd folds replacing the two interpreted aggregate HOFs
        // (optimization r14)
        call_function("array_sum_long", col("ns")).as("n_bpe_tokens"),
        call_function("id_fold", col("ns")).as("sub_fold"))
  }

  /** The learned merge sequence for `dir` as plain (l, r) pairs — the
    * shippable tokenizer artifact the streaming encode leg
    * ([[graft.streaming.TokenizeStream]]) carries in its plan: 8 string
    * pairs, closure-held, no vocab table at all (the canonical BPE
    * encoder applies merges per word; the vocab-join form batch tok4
    * uses is the throughput shape for a corpus whose vocabulary is
    * already materialized). Trains on a registry miss. */
  private[graft] def bpeMerges(spark: SparkSession, dir: String): Seq[(String, String)] =
    bpeModel(spark, dir).merges.map(m => (m._2, m._3))

  /** Per-word subtoken counts under a merge sequence, computed directly
    * from the characters (no vocab lookup): fold every merge in step
    * order over the word's symbols via [[bpeMergeFold]]. Exactly the
    * arithmetic the trainer applied to the word table, so for any word
    * the corpus vocabulary contains, size(result) equals tok4's joined
    * `n_sub` — and unseen words (a live stream's reality) still encode
    * instead of dropping. One narrow codegen-friendly expression. */
  private[graft] def bpeEncodeCols(merges: Seq[(String, String)]): Seq[Column] = {
    val wordSyms: Column => Column = w =>
      merges.foldLeft(filter(split(w, ""), x => x =!= "")) {
        case (syms, (l, r)) => bpeMergeFold(syms, l, r)
      }
    val ns = transform(words, w => size(wordSyms(w)).cast("long"))
    Seq(
      size(ns).cast("long").as("n_words"),
      // codegen'd folds replacing the two interpreted aggregate HOFs
      // (optimization r14); callers register GraftFunctions
      call_function("array_sum_long", ns).as("n_bpe_tokens"),
      call_function("id_fold", ns).as("sub_fold"))
  }

  /** One unrolled BPE iteration for the oracle: pair counts from
    * zipped adjacent symbols, winner by (freq DESC, l, r), then the
    * greedy merge via run-parity — positions are matches (`m`), each
    * maximal run of consecutive matches merges at its 1st, 3rd, …
    * offsets (`mg`), and a position following a merge is consumed
    * (`pm`). Equivalent to the Spark fold; see [[bpeMergeFold]]. */
  private def bpeIterSql(i: Int): String =
    s"""p$i AS (SELECT u[1] AS l, u[2] AS r, CAST(sum(cnt) AS BIGINT) AS freq
       |        FROM (SELECT cnt, unnest(list_zip(syms[1:len(syms)-1], syms[2:len(syms)])) AS u
       |              FROM w$i)
       |        GROUP BY 1, 2),
       |b$i AS MATERIALIZED (SELECT l, r, freq FROM p$i ORDER BY freq DESC, l, r LIMIT 1),
       |s$i AS (SELECT wd, cnt, unnest(list_transform(range(1, len(syms)+1),
       |          j -> {'j': j, 's': syms[CAST(j AS INT)]})) AS u FROM w$i),
       |e$i AS (SELECT wd, cnt, u.j AS j, u.s AS s,
       |          coalesce(u.s = (SELECT l FROM b$i) AND
       |            lead(u.s) OVER (PARTITION BY wd ORDER BY u.j) = (SELECT r FROM b$i),
       |            FALSE) AS m
       |        FROM s$i),
       |g$i AS (SELECT *, j - row_number() OVER (PARTITION BY wd, m ORDER BY j) AS grp FROM e$i),
       |h$i AS (SELECT *, CASE WHEN m THEN (row_number() OVER (PARTITION BY wd, m, grp ORDER BY j) % 2) = 1
       |          ELSE FALSE END AS mg FROM g$i),
       |k$i AS (SELECT *, coalesce(lag(mg) OVER (PARTITION BY wd ORDER BY j), FALSE) AS pm FROM h$i),
       |w${i + 1} AS MATERIALIZED (SELECT wd, cnt,
       |          list(CASE WHEN mg THEN s || (SELECT r FROM b$i) ELSE s END ORDER BY j) AS syms
       |        FROM k$i WHERE NOT pm GROUP BY wd, cnt)""".stripMargin

  private def bpeCtes: String = {
    val init =
      """t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |uni AS (SELECT unnest(w) AS wd FROM t),
        |w1 AS MATERIALIZED (SELECT wd, CAST(count(*) AS BIGINT) AS cnt, string_split(wd, '') AS syms
        |       FROM uni GROUP BY wd)""".stripMargin
    // MATERIALIZED is load-bearing, not a hint: DuckDB inlines plain
    // CTEs, and each unrolled step references its predecessor ~4 times
    // (pair counts, winner, merge) — inlined, the expansion is 4^steps
    // document scans ("Too many open files" before it's merely slow).
    // Materializing w{i}/b{i} makes each step compute once.
    (init +: (1 to BPE_MERGES).map(bpeIterSql)).mkString(",\n")
  }

  private val tok3Oracle =
    s"WITH $bpeCtes\n" +
      (1 to BPE_MERGES).map(i =>
        s"SELECT CAST($i AS BIGINT) AS step, l AS lft, r AS rgt, l || r AS merged, freq FROM b$i")
        .mkString("\nUNION ALL\n")

  private val tok4Oracle =
    s"""WITH $bpeCtes,
       |wt AS (SELECT wd, CAST(len(syms) AS BIGINT) AS n_sub FROM w${BPE_MERGES + 1}),
       |tk0 AS (SELECT doc_id, unnest(list_transform(range(1, len(w)+1),
       |          i -> {'pos': i, 'wd': w[CAST(i AS INT)]})) AS u FROM t),
       |tk AS (SELECT doc_id, u.pos AS pos, v.n_sub AS n_sub
       |       FROM tk0 JOIN wt v ON u.wd = v.wd),
       |enc AS (SELECT doc_id, list(n_sub ORDER BY pos) AS ns FROM tk GROUP BY doc_id)
       |SELECT doc_id, CAST(len(ns) AS BIGINT) AS n_words,
       |       CAST(list_sum(ns) AS BIGINT) AS n_bpe_tokens,
       |       ${RkLsh.foldSql("ns", RkLsh.MUL)} AS sub_fold
       |FROM enc""".stripMargin

  private val IR_TERMS = Seq("join", "hash", "vector", "spark")
  private val IR_TOPK = 100

  /** IR1 — BM25 ranked retrieval: score every document against a fixed
    * query-term set and keep the top-K — the relevance pass a
    * retrieval-augmented or quality-filtered pipeline runs over a
    * corpus (and the ranking function idx1's index exists to serve).
    *
    * Engine-neutral scoring without log(): the Robertson idf is kept in
    * its rational form (N - df + 0.5)/(df + 0.5) — every operand is an
    * exact integer-or-half double and IEEE division is correctly
    * rounded, so both engines produce the identical double. Each term's
    * score is floor-scaled to an e6 integer BEFORE the cross-term sum,
    * making the sum order-free. Float literals are written `0.5e0` in
    * the oracle so DuckDB parses DOUBLE, not DECIMAL.
    *
    * Shape: one corpus-stats aggregate (a single 1-row reduce: N,
    * Σdl, per-term df — the terms are literals, so tf needs no explode
    * and no shuffle), broadcast back onto a narrow per-document score
    * map, then TakeOrdered — the corpus itself is never shuffled or
    * globally sorted. */
  def ir1Bm25(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark) // count_in
    // pinned (optimization r14): base feeds BOTH the 1-row corpus
    // stats aggregate and the per-document score probe — unpinned,
    // each side ran its own full corpus scan recomputing the 4
    // per-term tf counts (the lm1/cooc1 shape from r13). The pinned
    // frame is 6 longs per doc, never text.
    val base = Model.pin(docs(spark, dir).select(
      col("doc_id") +: size(words).cast("long").as("dl") +:
        IR_TERMS.zipWithIndex.map { case (t, i) =>
          // count_in: codegen'd — the size(filter(words, _ === t))
          // HOF ran its lambda interpreted per TOKEN per term
          // (optimization r14)
          call_function("count_in", words, array(lit(t))).as(s"tf$i")
        }: _*))
    val aggs = sum(col("dl")).as("sumdl") +:
      IR_TERMS.indices.map(i =>
        sum((col(s"tf$i") > 0).cast("long")).as(s"df$i"))
    val stats = base.agg(count(lit(1)).as("n"), aggs: _*)
    val termScore = IR_TERMS.indices.map { i =>
      val idf = (col("n").cast("double") - col(s"df$i") + lit(0.5)) /
        (col(s"df$i") + lit(0.5))
      val num = col(s"tf$i").cast("double") * lit(2.2)
      val den = col(s"tf$i").cast("double") +
        lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))
      floor(idf * num / den * lit(1000000))
    }.reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sumdl").cast("double") / col("n"))
      .withColumn("score_e6", termScore)
      .filter(col("score_e6") > 0)
      .orderBy(col("score_e6").desc, col("doc_id")).limit(IR_TOPK)
      .select(col("doc_id"), col("dl"), col("score_e6"))
  }

  private val ir1Oracle = {
    val tfs = IR_TERMS.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(string_split(text, ' '), x -> x = '$t')) AS BIGINT) AS tf$i"
    }.mkString(",\n       |         ")
    val dfs = IR_TERMS.indices.map(i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i").mkString(", ")
    val score = IR_TERMS.indices.map(i =>
      s"""CAST(floor((CAST(n AS DOUBLE) - df$i + 0.5e0) / (df$i + 0.5e0)
         |           * (CAST(tf$i AS DOUBLE) * 2.2e0)
         |           / (CAST(tf$i AS DOUBLE) + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl))
         |           * 1000000) AS BIGINT)""".stripMargin).mkString("\n       + ")
    s"""WITH b AS (SELECT doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
       |         $tfs
       |       FROM documents),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sumdl, $dfs
       |      FROM b),
       |sc AS (SELECT doc_id, dl,
       |         $score AS score_e6
       |       FROM b CROSS JOIN (SELECT *, CAST(sumdl AS DOUBLE) / n AS avgdl FROM s))
       |SELECT doc_id, dl, score_e6 FROM sc WHERE score_e6 > 0
       |ORDER BY score_e6 DESC, doc_id LIMIT $IR_TOPK""".stripMargin
  }

  /** LM1 — bigram-coherence scoring: the perplexity-style quality
    * filter (KenLM-family) scored without log() so it stays
    * engine-neutral — each adjacent pair contributes the e6-scaled
    * conditional probability floor(c(w1,w2)·1e6 / c(w1)) (exact
    * integers, the ta2 division pattern), and the document score is the
    * floor-mean over its pairs (integer summands, so the re-aggregate
    * is order-free). Junk text — rare transitions — scores low; the
    * corpus's own statistics are the model, as with a real LM filter.
    *
    * Shape: the bigram and unigram count tables are VOCABULARY-sized
    * model artifacts joined onto the corpus-sized pair stream behind
    * [[Model.guardedBroadcast]]: provably-small tables broadcast (O(1)
    * codegen'd probes, zero probe-side shuffle — measured necessary:
    * fully un-hinted, the static planner picked SortMergeJoin at sf10
    * and AQE never converted, paying two sorts of the 30M-row pair
    * stream), and on a 100-TB corpus — where the bigram vocabulary is
    * billions of entries, past the 8 GB broadcast hard cap — the guard
    * falls back to the planner's shuffle join instead of dying at
    * broadcast-build time. (A first cut kept the tables as
    * one map-typed row and scored via zip_with + element_at; Spark's
    * MapData lookup is a LINEAR scan, so every pair paid O(|vocab²|) —
    * 86 s at sf1. The join shape is 30× faster: the same
    * lambda-vs-codegen trap class SCALE.md finding 1 documents for
    * qt1/ng1/rep1.) One doc-keyed re-aggregate (narrow 2-long rows,
    * map-side partials) rebuilds the per-document mean. */
  def lm1BigramCoherence(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    val t = docs(spark, dir).withColumn("w", words).filter(size(col("w")) >= 2)
    // word_pairs(w, 0): codegen'd bigram pass — the zip_with-of-slices
    // form ran its struct lambda interpreted per token (optimization r13)
    val pr = t.select(col("doc_id"),
        explode(call_function("word_pairs", col("w"), lit(0))).as("p"))
      .select(col("doc_id"), col("p.l").as("l"), col("p.r").as("r"))
    val pc = pr.groupBy(col("l"), col("r")).agg(count(lit(1)).as("cp"))
    val uc = t.select(explode(col("w")).as("wd"))
      .groupBy(col("wd")).agg(count(lit(1)).as("cu"))
    // ONE scored-pair model instead of two separate broadcasts
    // (optimization r13): the score depends only on (l, r), so the
    // bigram and unigram tables join MODEL-side (distinct pairs ×
    // vocab — tiny next to the corpus stream) and the corpus-sized
    // probe stream pays one hash probe per row instead of two. Past
    // the broadcast guard's threshold this also halves the probe
    // stream's shuffle joins (one instead of two), and only one model
    // table is persisted/counted instead of two.
    val psc = pc.join(uc, col("l") === col("wd"))
      .select(col("l"), col("r"),
        floor(col("cp") * lit(1000000L) / col("cu")).as("s"))
    pr.join(Model.guardedBroadcast(psc), Seq("l", "r"))
      .select(col("doc_id"), col("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"),
        floor(sum(col("s")) / count(lit(1))).as("lm_score_e6"))
  }

  private val lm1Oracle =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
      |         i -> {'l': w[CAST(i AS INT)], 'r': w[CAST(i+1 AS INT)]})) AS u
      |       FROM t WHERE len(w) >= 2),
      |pc AS (SELECT u.l AS l, u.r AS r, CAST(count(*) AS BIGINT) AS cp FROM bg GROUP BY 1, 2),
      |uni AS (SELECT unnest(w) AS wd FROM t WHERE len(w) >= 2),
      |uc AS (SELECT wd, CAST(count(*) AS BIGINT) AS cu FROM uni GROUP BY wd),
      |sc AS (SELECT doc_id, CAST(floor(cp * 1000000 / cu) AS BIGINT) AS s
      |       FROM bg JOIN pc ON bg.u.l = pc.l AND bg.u.r = pc.r
      |               JOIN uc ON bg.u.l = uc.wd)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
      |       CAST(floor(CAST(sum(s) AS BIGINT) / count(*)) AS BIGINT) AS lm_score_e6
      |FROM sc GROUP BY doc_id""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("ta1_langid", ta1LangId, Some(ta1Oracle)),
    Q("ta2_quality", ta2Quality, Some(ta2Oracle)),
    Q("ta3_token_count", ta3TokenCount, Some(ta3Oracle)),
    Q("ta4_fingerprint", ta4Fingerprint, Some(ta4Oracle)),
    Q("ta5_rolling_hash", ta5RollingHash, Some(ta5Oracle)),
    Q("ng1_ngram_topk", ng1NgramTopk, Some(ng1Oracle)),
    Q("rep1_repetition", rep1Repetition, Some(rep1Oracle)),
    Q("ta6_common_ratio", ta6CommonRatio, Some(ta6Oracle)),
    Q("cooc1_pair_lift", cooc1PairLift, Some(cooc1Oracle)),
    Q("idx1_inverted_index", idx1InvertedIndex, Some(idx1Oracle)),
    Q("tok1_vocab_encode", tok1VocabEncode, Some(tok1Oracle)),
    Q("tok2_capped_encode", tok2CappedEncode, Some(tok2Oracle)),
    Q("tok3_bpe_train", tok3BpeTrain, Some(tok3Oracle)),
    Q("tok4_bpe_encode", tok4BpeEncode, Some(tok4Oracle)),
    Q("ir1_bm25", ir1Bm25, Some(ir1Oracle)),
    Q("lm1_bigram_coherence", lm1BigramCoherence, Some(lm1Oracle)))
}
