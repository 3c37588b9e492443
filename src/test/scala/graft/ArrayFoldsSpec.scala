package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r14 codegen'd array folds (id_fold, array_sum_long, sum_strlen,
  * long_count_eq, bpe_merge) each pinned against the exact built-in HOF
  * formulation it replaced, on real corpus rows plus the null/empty
  * edges the corpus never produces — those on both the generated-code
  * and the interpreted path ([[CodegenPaths.onBothPaths]]). */
class ArrayFoldsSpec extends AnyFunSuite {
  import TestSpark._
  import CodegenPaths.onBothPaths
  import spark.implicits._

  graft.functions.GraftFunctions.registerAll(spark)

  /** per-document token-id arrays, the id_fold/long_count_eq input shape
    * (tok2's capped encode: most ids are the OOV 0 at the test cap) */
  private def idsDf = {
    val t = Tables.documents(spark, sf).limit(50)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    t.select(col("doc_id"), transform(col("w"),
      w => when(length(w) <= 3, lit(0L)).otherwise(length(w).cast("long") * 7L)).as("ids"))
  }

  test("id_fold agrees with the aggregate HOF on real id arrays") {
    val hof = idsDf.select(aggregate(col("ids"), lit(0L),
      (a, x) => (a * 1000003L + x) % 1099511627776L).as("f"))
      .collect().map(_.getLong(0))
    val native = idsDf.select(call_function("id_fold", col("ids")).as("f"))
      .collect().map(_.getLong(0))
    assert(hof.nonEmpty && hof.sameElements(native))
  }

  test("id_fold: empty → seed 0, null element → null, null array → null") {
    onBothPaths {
      val df = Seq(
        (1L, Some(Seq[java.lang.Long]())),
        (2L, Some(Seq[java.lang.Long](5L, null, 7L))),
        (3L, Option.empty[Seq[java.lang.Long]])).toDF("i", "ids")
      val rows = df.select(col("i"), call_function("id_fold", col("ids")).as("f"))
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
      assert(rows(1L) == 0L && rows(2L) == null && rows(3L) == null)
    }
  }

  test("array_sum_long agrees with the aggregate HOF, including null edges") {
    val hof = idsDf.select(aggregate(col("ids"), lit(0L), (a, x) => a + x).as("s"))
      .collect().map(_.getLong(0))
    val native = idsDf.select(call_function("array_sum_long", col("ids")).as("s"))
      .collect().map(_.getLong(0))
    assert(hof.nonEmpty && hof.sameElements(native))
    val edges = onBothPaths {
      Seq(
        (1L, Some(Seq[java.lang.Long]())),
        (2L, Some(Seq[java.lang.Long](5L, null))),
        (3L, Option.empty[Seq[java.lang.Long]])).toDF("i", "ids")
        .select(col("i"), call_function("array_sum_long", col("ids")).as("s"))
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    }
    assert(edges(1L) == 0L && edges(2L) == null && edges(3L) == null)
  }

  test("sum_strlen agrees with aggregate(transform(words, length)) on real documents") {
    val t = Tables.documents(spark, sf).limit(80)
      .select(split(col("text"), " ").as("w"))
    val hof = t.select(aggregate(transform(col("w"), w => length(w)),
      lit(0L), (acc, x) => acc + x).as("s")).collect().map(_.getLong(0))
    val native = t.select(call_function("sum_strlen", col("w")).as("s"))
      .collect().map(_.getLong(0))
    assert(hof.nonEmpty && hof.sameElements(native))
  }

  test("sum_strlen counts code points like length(), and nulls like the HOF") {
    onBothPaths {
      val df = Seq(
        (1L, Some(Seq("héllo", "日本語", ""))), // 5 + 3 + 0
        (2L, Some(Seq[String]())),
        (3L, Option.empty[Seq[String]])).toDF("i", "w")
      val rows = df.select(col("i"), call_function("sum_strlen", col("w")).as("s"))
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
      assert(rows(1L) == 8L && rows(2L) == 0L && rows(3L) == null)
      val withNull = Seq(Tuple1(Seq[String]("a", null))).toDF("w")
        .select(call_function("sum_strlen", col("w")))
      assert(withNull.head().isNullAt(0))
    }
  }

  test("long_count_eq agrees with size(filter(ids, _ === k)), null elements dropped") {
    val hof = idsDf.select(size(filter(col("ids"), x => x === 0L)).cast("long").as("c"))
      .collect().map(_.getLong(0))
    val native = idsDf.select(call_function("long_count_eq", col("ids"), lit(0L)).as("c"))
      .collect().map(_.getLong(0))
    assert(hof.nonEmpty && hof.sameElements(native))
    val edge = onBothPaths {
      Seq(Tuple1(Seq[java.lang.Long](0L, null, 0L, 3L))).toDF("ids")
        .select(call_function("long_count_eq", col("ids"), lit(0L))).head().getLong(0)
    }
    assert(edge == 2L)
  }

  test("scaled_cos agrees with the zip_with floorE6 lambda on real embeddings") {
    val mat = Seq.tabulate(5)(i => Seq.tabulate(64)(j => ((i * 64 + j) % 13 - 6) / 7.0))
    val nrm = mat.map(r => math.sqrt(r.map(x => x * x).sum))
    val v = Tables.embeddings(spark, sf).limit(100)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("unrm", sqrt(call_function("double_dot", col("v"), col("v"))))
      .withColumn("dots", call_function("matrix_dots", col("v"), typedLit(mat)))
    val hof = v.select(col("vec_id"), zip_with(col("dots"), typedLit(nrm),
        (d, n) => floor(d / (col("unrm") * n) * 1000000L) / 1e6).as("cs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val native = v.select(col("vec_id"),
        call_function("scaled_cos", col("dots"), col("unrm"), typedLit(nrm)).as("cs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(hof.nonEmpty)
    for ((k, a) <- hof; b = native(k)) {
      assert(a.length == b.length, s"len $k")
      a.zip(b).foreach { case (x, y) =>
        assert(java.lang.Double.doubleToLongBits(x) ==
          java.lang.Double.doubleToLongBits(y), s"row $k: $x vs $y") }
    }
  }

  test("scaled_cos reproduces zip_with's ragged-length null padding") {
    onBothPaths {
      val out = Seq(Tuple1(Seq(1.0, 2.0))).toDF("dots")
        .select(call_function("scaled_cos", col("dots"), lit(1.0),
          typedLit(Seq(1.0, 1.0, 1.0))).as("cs")).head().getSeq[Any](0)
      assert(out.length == 3 && out(2) == null && out(0) == 1.0)
    }
  }

  test("word_chunks agrees with the transform/slice/array_join HOF on real documents") {
    val K = 5
    val t = Tables.documents(spark, sf).limit(80)
      .select(split(col("text"), " ").as("w"))
      .withColumn("nc", ((size(col("w")) + K - 1) / K).cast("long"))
    val hof = t.select(transform(sequence(lit(0L), col("nc") - 1),
        i => array_join(slice(col("w"), (i * K + 1).cast("int"), lit(K)), " ")).as("c"))
      .collect().map(_.getSeq[String](0))
    val native = t.select(call_function("word_chunks", col("w"), lit(K)).as("c"))
      .collect().map(_.getSeq[String](0))
    assert(hof.nonEmpty && hof.length == native.length &&
      hof.zip(native).forall { case (a, b) => a == b })
  }

  test("word_chunks edges: short/exact-multiple arrays, null array → null") {
    onBothPaths {
      def chunksOf(w: Seq[String]) = Seq(Tuple1(w)).toDF("w")
        .select(call_function("word_chunks", col("w"), lit(3))).head().getSeq[String](0)
      assert(chunksOf(Seq("a", "b")) == Seq("a b"))
      assert(chunksOf(Seq("a", "b", "c")) == Seq("a b c"))
      assert(chunksOf(Seq("a", "b", "c", "d")) == Seq("a b c", "d"))
      assert(chunksOf(Seq("")) == Seq(""))
      val nul = Seq(Tuple1(Option.empty[Seq[String]])).toDF("w")
        .select(call_function("word_chunks", col("w"), lit(3)))
      assert(nul.head().isNullAt(0))
    }
  }

  test("bpe_merge agrees with the aggregate-fold formulation on real corpus words") {
    def hofMerge(syms: org.apache.spark.sql.Column, l: String, r: String) =
      aggregate(syms, typedLit(Seq.empty[String]),
        (acc, x) => when(size(acc) > 0 &&
            element_at(acc, -1) === lit(l) && x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(x))))
    val w = Tables.documents(spark, sf).limit(40)
      .select(explode(split(col("text"), " ")).as("wd"))
      .select(filter(split(col("wd"), ""), x => x =!= "").as("syms"))
    // chain two merges, as the encode path does
    val merges = Seq(("t", "h"), ("th", "e"))
    val hof = merges.foldLeft(col("syms")) { case (c, (l, r)) => hofMerge(c, l, r) }
    val native = merges.foldLeft(col("syms")) { case (c, (l, r)) =>
      call_function("bpe_merge", c, lit(l), lit(r)) }
    val rows = w.select(hof.as("h"), native.as("n"))
      .filter(not(col("h") <=> col("n"))).count()
    assert(rows == 0L)
  }

  test("bpe_merge greedy restart: [a,a,a,a] merging (a,a) → [aa,aa]") {
    onBothPaths {
      val out = Seq(Tuple1(Seq("a", "a", "a", "a"))).toDF("syms")
        .select(call_function("bpe_merge", col("syms"), lit("a"), lit("a")))
        .head().getSeq[String](0)
      assert(out == Seq("aa", "aa"))
    }
  }

  test("span_cover agrees with the interval-union aggregate HOF on real duplicated positions") {
    val K = 4
    // dd8's exact input shape: sorted positions of duplicated k-grams
    val grams = Tables.documents(spark, sf).limit(60).select(
      col("doc_id"), size(split(col("text"), " ")).as("n_tokens"),
      posexplode(call_function("shingle_hashes_pos", split(col("text"), " "), lit(K)))
        .as(Seq("pos", "h")))
    val dup = grams.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select(col("h"))
    val cov = grams.join(dup, "h")
      .groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).cast("long").as("nt"),
        array_sort(collect_list(col("pos").cast("long"))).as("ps"))
    val hof = cov.select(col("doc_id"), expr(
      s"""aggregate(ps,
         |  named_struct('cov', CAST(0 AS BIGINT), 'cur', CAST(0 AS BIGINT)),
         |  (a, p) -> named_struct(
         |    'cov', a.cov + greatest(CAST(0 AS BIGINT),
         |             least(p + $K, nt) - greatest(p, a.cur)),
         |    'cur', greatest(a.cur, least(p + $K, nt))),
         |  a -> a.cov)""".stripMargin).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val native = cov.select(col("doc_id"),
        call_function("span_cover", col("ps"), col("nt"), lit(K)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hof.nonEmpty && hof == native)
  }

  test("span_cover edges: empty → 0, clamping at nt, overlap merging, null array → null") {
    onBothPaths {
      val df = Seq(
        (1L, Some(Seq[java.lang.Long]()), 10L),
        (2L, Some(Seq[java.lang.Long](0L, 1L, 8L)), 10L), // [0,4)∪[1,5)∪[8,10) = 7
        (3L, Some(Seq[java.lang.Long](7L)), 8L), // clamped [7,8) = 1
        (4L, Option.empty[Seq[java.lang.Long]], 10L)).toDF("i", "ps", "nt")
      val rows = df.select(col("i"),
          call_function("span_cover", col("ps"), col("nt"), lit(4)).as("c"))
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
      assert(rows(1L) == 0L && rows(2L) == 7L && rows(3L) == 1L && rows(4L) == null)
    }
  }

  test("quantize_stats agrees bit-for-bit with qt1's former HOF chain on real embeddings") {
    val v = Tables.embeddings(spark, sf).limit(100)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val hof = v
      .withColumn("s", array_max(transform(col("v"), x => abs(x))) / 127.0)
      .withColumn("q", transform(col("v"),
        x => when(col("s") === 0.0, 0.0).otherwise(floor(x / col("s") + 0.5))))
      .select(col("vec_id"), col("s"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + x.cast("long")).as("cs"),
        aggregate(zip_with(col("v"), col("q"),
          (x, qi) => (x - qi * col("s")) * (x - qi * col("s"))),
          lit(0.0), (acc, e) => acc + e).as("l2"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2), r.getDouble(3)))).toMap
    val native = v.select(col("vec_id"), call_function("quantize_stats", col("v")).as("qs"))
      .select(col("vec_id"), col("qs.s"), col("qs.checksum"), col("qs.l2"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(hof.nonEmpty)
    for ((k, (s, cs, l2)) <- hof) {
      val (s2, cs2, l22) = native(k)
      assert(java.lang.Double.doubleToLongBits(s) == java.lang.Double.doubleToLongBits(s2), s"scale $k")
      assert(cs == cs2, s"checksum $k")
      assert(java.lang.Double.doubleToLongBits(l2) == java.lang.Double.doubleToLongBits(l22), s"l2 $k")
    }
  }

  test("quantize_stats edges: zero vector → scale 0/checksum 0/l2 0; empty and null array → nulls") {
    onBothPaths {
      val df = Seq(
        (1L, Some(Seq(0.0, 0.0))),
        (2L, Some(Seq.empty[Double])),
        (3L, Option.empty[Seq[Double]])).toDF("i", "v")
        .select(col("i"), call_function("quantize_stats", col("v")).as("qs"))
        .select(col("i"), col("qs.s"), col("qs.checksum"), col("qs.l2"))
      val rows = df.collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) null else r.getDouble(1)),
         (if (r.isNullAt(2)) null else r.getLong(2)),
         (if (r.isNullAt(3)) null else r.getDouble(3)))).toMap
      assert(rows(1L) == ((0.0, 0L, 0.0)))
      // empty: null scale but fold SEEDS for the sums, like the HOFs
      assert(rows(2L) == ((null, 0L, 0.0)))
      assert(rows(3L) == ((null, null, null)))
    }
  }

  test("quantize_grid agrees with transform(v, x -> floor(x * q)) on real embeddings") {
    val v = Tables.embeddings(spark, sf).limit(100)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val hof = v.select(col("vec_id"),
        expr("transform(v, x -> floor(x * 512))").as("qx"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val native = v.select(col("vec_id"),
        call_function("quantize_grid", col("v"), lit(512)).as("qx"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(hof.nonEmpty && hof.forall { case (k, a) => a == native(k) })
  }

  test("quantize_grid edges: transform's per-element nulls, empty → empty, null array → null") {
    onBothPaths {
      val df = Seq(
        (1L, Some(Seq[java.lang.Double](1.5, null, -0.25))),
        (2L, Some(Seq.empty[java.lang.Double])),
        (3L, Option.empty[Seq[java.lang.Double]])).toDF("i", "v")
        .select(col("i"), call_function("quantize_grid", col("v"), lit(512)).as("qx"))
      val rows = df.collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Any](1))).toMap
      assert(rows(1L) == Seq(768L, null, -128L))
      assert(rows(2L) == Seq.empty)
      assert(rows(3L) == null)
    }
  }

  test("pq_scores agrees with zip_with(c2, matrix_dots, a - 2b) on real grid subvectors") {
    // the pq1 coding shape: integer-grid 8-dim subvectors against a
    // 16×8 integer codebook (c2 = per-entry squared norms)
    val books = Array.tabulate(16, 8)((p, j) => ((p * 8 + j) % 17 - 8).toLong * 31L)
    val mat = books.map(_.map(_.toDouble).toSeq).toSeq
    val c2 = books.map(c => c.map(x => x * x).sum.toDouble).toSeq
    val v = Tables.embeddings(spark, sf).limit(100)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"),
        expr("transform(slice(v, 9, 8), x -> floor(x * 512))").cast("array<double>").as("sub"))
    val hof = v.select(col("vec_id"), zip_with(typedLit(c2),
        call_function("matrix_dots", col("sub"), typedLit(mat)),
        (a, b) => a - lit(2.0) * b).as("sc"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val native = v.select(col("vec_id"),
        call_function("pq_scores", col("sub"), typedLit(mat), typedLit(c2)).as("sc"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(hof.nonEmpty)
    for ((k, a) <- hof; b = native(k)) {
      assert(a.length == b.length, s"len $k")
      a.zip(b).foreach { case (x, y) =>
        assert(java.lang.Double.doubleToLongBits(x) ==
          java.lang.Double.doubleToLongBits(y), s"row $k: $x vs $y") }
    }
  }

  test("pq_scores edges: null element / width mismatch → all-null K, null array → null") {
    onBothPaths {
      val mat = Seq.tabulate(4)(p => Seq.tabulate(3)(j => (p + j).toDouble))
      val c2 = mat.map(r => r.map(x => x * x).sum)
      def scoresOf(sub: Option[Seq[java.lang.Double]]) =
        Seq(Tuple1(sub)).toDF("sub")
          .select(call_function("pq_scores", col("sub"), typedLit(mat), typedLit(c2)))
          .head()
      val nullEl = scoresOf(Some(Seq[java.lang.Double](1.0, null, 2.0)))
      assert(nullEl.getSeq[Any](0) == Seq(null, null, null, null))
      val short = scoresOf(Some(Seq[java.lang.Double](1.0, 2.0)))
      assert(short.getSeq[Any](0) == Seq(null, null, null, null))
      assert(scoresOf(None).isNullAt(0))
      // sanity on the arithmetic itself: sub == mat row 0 → score −‖c0‖²
      val exact = scoresOf(Some(Seq[java.lang.Double](0.0, 1.0, 2.0))).getSeq[Double](0)
      assert(exact(0) == -c2(0))
    }
  }

  test("bpe_merge null edges: null array → null, null element appends unmatched") {
    onBothPaths {
      val nullArr = Seq(Tuple1(Option.empty[Seq[String]])).toDF("syms")
        .select(call_function("bpe_merge", col("syms"), lit("a"), lit("b")))
      assert(nullArr.head().isNullAt(0))
      val withNull = Seq(Tuple1(Seq[String]("a", null, "b"))).toDF("syms")
        .select(call_function("bpe_merge", col("syms"), lit("a"), lit("b")))
        .head().getSeq[String](0)
      assert(withNull == Seq("a", null, "b"))
    }
  }
}
