package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** [[SimhashFingerprint]] must be bit-for-bit the round-1 explode + md5 +
  * vote-sum-agg formulation it replaced (which is also what the DuckDB
  * oracle CTE still computes). */
class SimhashFunctionsSpec extends SparkTestBase {
  import spark.implicits._

  /** The old pipeline, inlined as the reference model: one row per shingle,
    * md5, per-hex-char ±1 votes, bit i set iff vote sum > 0. */
  private def modelFingerprint(shingles: Seq[String]): Long = {
    val votes = new Array[Int](32)
    shingles.foreach { s =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (0 until 32).foreach(i => votes(i) += (if (hex.charAt(i) >= '8') 1 else -1))
    }
    (0 until 32).foldLeft(0L)((fp, i) => if (votes(i) > 0) fp | (1L << (31 - i)) else fp)
  }

  test("fingerprint == explode+vote-agg model on varied shingle sets") {
    val cases: Seq[Seq[String]] = Seq(
      Seq("a b c"),
      Seq("a b c", "b c d", "c d e"),
      Seq("the quick brown", "quick brown fox", "brown fox jumps"),
      (1 to 97).map(i => s"tok$i tok${i + 1} tok${i + 2}"),
      Seq("", " ", "unicode ✓ shingle")
    )
    val got = cases.toDF("shingles")
      .select(SimhashFunctions.simhashFingerprint(col("shingles")).as("fp"))
      .as[Long].collect().toSeq
    assert(got == cases.map(modelFingerprint))
  }

  test("interpreted eval (Expression.eval, incl. null mapping) agrees with codegen") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    // Expression.eval → nullSafeEval: the path constant folding and
    // fallback-mode evaluation use (the DataFrame tests above run codegen)
    val shingles = Seq("x y z", "y z w")
    val e = SimhashFingerprint(Literal.create(shingles, ArrayType(StringType)))
    assert(e.eval(null) == modelFingerprint(shingles))
    val withNull = SimhashFingerprint(
      Literal.create(Seq("a", null, "b"), ArrayType(StringType, containsNull = true)))
    assert(withNull.eval(null) == null) // the fp < 0 → NULL mapping
    val nullArr = SimhashFingerprint(Literal.create(null, ArrayType(StringType)))
    assert(nullArr.eval(null) == null)
  }

  test("null semantics: null array -> null; null element -> null; empty -> 0") {
    val df = Seq(
      (1, Seq("a b c")),
      (2, null.asInstanceOf[Seq[String]]),
      (3, Seq.empty[String])
    ).toDF("id", "shingles")
      .withColumn("fp", SimhashFunctions.simhashFingerprint(col("shingles")))
    val rows = df.orderBy("id").select("fp").collect()
    assert(!rows(0).isNullAt(0))
    assert(rows(1).isNullAt(0))
    assert(rows(2).getLong(0) == 0L)
    val withNullElem = Seq(Tuple1(Seq("a", null, "b"))).toDF("shingles")
      .select(SimhashFunctions.simhashFingerprint(col("shingles")).as("fp"))
    assert(withNullElem.collect()(0).isNullAt(0))
  }

  test("SQL surface: registered text-hash functions match the Column API") {
    BucketSqlFunctions.registerFunctions(spark)
    val df = Seq((1L, "a b c d e f g")).toDF("id", "text")
    df.createOrReplaceTempView("th_docs")
    val viaSql = spark.sql(
      """SELECT simhash_fingerprint(array('a b c', 'b c d')) AS fp,
        |       minhash_signature(array('a b c', 'b c d')) AS sig,
        |       min_window_md5(split(text, ' '), 5) AS mw,
        |       winnow_fingerprints(split(text, ' '), 5, 2) AS wf,
        |       vector_l2sq(array(CAST(1.0 AS FLOAT), CAST(3.0 AS FLOAT)),
        |                   array(CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE))) AS l2,
        |       shingle_set(split(text, ' '), 3) AS sh
        |FROM th_docs""".stripMargin).collect()(0)
    val viaCols = df.select(
      SimhashFunctions.simhashFingerprint(array(lit("a b c"), lit("b c d"))).as("fp"),
      MinhashFunctions.minhashSignature(array(lit("a b c"), lit("b c d"))).as("sig"),
      WindowMd5Functions.minWindowMd5(split(col("text"), " "), 5).as("mw"),
      WindowMd5Functions.winnowFingerprints(split(col("text"), " "), 5, 2).as("wf"),
      VectorFunctions.l2Sq(
        array(lit(1.0f), lit(3.0f)), array(lit(0.0), lit(1.0))).as("l2"),
      ShingleFunctions.shingleSet(split(col("text"), " "), 3).as("sh"))
      .collect()(0)
    assert(viaSql.getLong(0) == viaCols.getLong(0))
    assert(viaSql.getSeq[String](1) == viaCols.getSeq[String](1))
    assert(viaSql.getString(2) == viaCols.getString(2))
    assert(viaSql.getSeq[String](3) == viaCols.getSeq[String](3))
    assert(viaSql.getDouble(4) == viaCols.getDouble(4) && viaSql.getDouble(4) == 5.0)
    assert(viaSql.getSeq[String](5) == viaCols.getSeq[String](5) &&
      viaSql.getSeq[String](5).head == "a b c")
  }

  test("rejects non-array<string> input at analysis time") {
    val ex = intercept[Exception] {
      Seq(Tuple1(Seq(1, 2))).toDF("xs")
        .select(SimhashFunctions.simhashFingerprint(col("xs"))).collect()
    }
    assert(ex.getMessage.contains("array<string>") ||
      ex.getMessage.toLowerCase.contains("datatype_mismatch"))
  }

  test("SQL surface: bloom_filter_agg + might_contain match exact membership") {
    import spark.implicits._
    BucketSqlFunctions.registerFunctions(spark)
    spark.range(1000).selectExpr("concat('k', id) AS s").createOrReplaceTempView("bl_all")
    spark.sql("SELECT s FROM bl_all WHERE length(s) <= 3").createOrReplaceTempView("bl_ref")
    spark.sql("SELECT bloom_filter_agg(xxhash64(s), 10000L) AS bf FROM bl_ref")
      .createOrReplaceTempView("bl_bf")
    val flagged = spark.sql(
      """SELECT s FROM bl_all
        |WHERE might_contain((SELECT bf FROM bl_bf), xxhash64(s))""".stripMargin)
      .as[String].collect().toSet
    val ref = spark.sql("SELECT s FROM bl_ref").as[String].collect().toSet
    // no false negatives, ever
    assert(ref.subsetOf(flagged), s"bloom lost ${(ref -- flagged).take(3)}")
    // at 10k capacity over 100 items the fpp is tiny - allow a handful
    assert((flagged -- ref).size <= 5,
      s"implausible false-positive count ${(flagged -- ref).size}")
  }
}
