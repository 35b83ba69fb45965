package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.PolyHash
import graft.ops.TextAnalysis

/** The native PolyHash expression must be bit-identical to the built-in
  * aggregate/ascii formulation (which the DuckDB oracles mirror) — including
  * interpreted vs codegen evaluation and non-ASCII codepoints.
  */
class PolyHashSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def check(strings: Seq[String]): Unit = {
    import spark.implicits._
    val df = strings.toDF("s")
    val rows = df.select(
      PolyHash.poly_hash(col("s")).as("native"),
      TextAnalysis.fingerprintBuiltin(col("s")).as("builtin")).collect()
    rows.zip(strings).foreach { case (r, s) =>
      assert(r.getLong(0) == r.getLong(1), s"mismatch on ${s.take(40)}")
    }
  }

  test("native == built-in on crafted strings") {
    check(Seq("", "a", "abc", "hello world", "a" * 500,
      "tabs\tand\nnewlines", "punct!@#$%^&*()",
      "unicode: żółć ñ 中文 🙂 combining é"))
    // the known closed form from round 1
    import spark.implicits._
    val fp = Seq("abc").toDF("s").select(PolyHash.poly_hash(col("s")))
      .collect().head.getLong(0)
    assert(fp == 97L * 31 * 31 + 98L * 31 + 99L)
  }

  test("TranscriptStore.bucketOf == bucketCol on crafted conv ids") {
    import spark.implicits._
    import graft.io.TranscriptStore.{bucketCol, bucketOf}
    val ids = Seq("", "c", "conv-000001", "conv:\uD83D\uDE42",
      new String(Character.toChars(0x10000)), new String(Character.toChars(0x10FFFF)),
      "\uE000\uFFFD", "会话-42", "x" * 300)
    val df = ids.zipWithIndex.toDF("conv_id", "i")
    for (nb <- Seq(1, 7, 256); rows <- Seq(df, df.repartition(2))) {
      // the local relation folds the projection interpreted; the
      // repartitioned one runs it through codegen
      val got = rows.select(col("i"), bucketCol(col("conv_id"), nb))
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      ids.zipWithIndex.foreach { case (id, i) =>
        assert(got(i) == bucketOf(id, nb), s"nBuckets=$nb id#$i")
      }
    }
  }

  test("GraftExtensions injects poly_hash + vec_dot (session built WITH the extension)") {
    // TestSpark sets spark.sql.extensions=graft.functions.GraftExtensions —
    // a STATIC conf, so the functions below resolve WITHOUT any per-session
    // register() call (the deployment path: spark.sql.extensions at launch)
    val r = spark.sql(
      "SELECT poly_hash('abc') AS h, vec_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d, " +
        "long_vec_dot(array(2L, 3L), array(5L, 7L)) AS q")
      .collect()(0)
    assert(r.getLong(0) == 97L * 31 * 31 + 98L * 31 + 99L)
    assert(r.getDouble(1) == 11.0)
    assert(r.getLong(2) == 31L)
  }

  test("native == built-in on pseudo-random strings (property sweep)") {
    val rnd = new scala.util.Random(7)
    val pool = "abcdefghij KLMNOP.;'öü🙂"
    check((1 to 200).map { _ =>
      val n = rnd.nextInt(60)
      (0 until n).map(_ => pool(rnd.nextInt(pool.length))).mkString
    })
  }

  /** The HOF formulation the native ShingleHashes expression replaces (and
    * the DuckDB decontamination oracle mirrors).
    */
  private def shingleBuiltin(textCol: org.apache.spark.sql.Column, n: Int) = {
    val toks = filter(split(textCol, "\\s+"), t => length(t) > 0)
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => TextAnalysis.fingerprint(concat_ws(" ", slice(toks, i, lit(n))))))
      .otherwise(array().cast("array<long>"))
  }

  test("shingle_hashes == HOF formulation (crafted + property sweep, n=1..6)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val pool = "ab ghij KLM.;'öü🙂 \t"
    val crafted = Seq("", "a", "one two three four five six",
      "  leading and   multiple   spaces ", "tabs\tand\nnewlines mixed in",
      "unicode żółć ñ 中文 🙂 tokens", "exactly five tokens right here")
    val random = (1 to 150).map { _ =>
      (0 until rnd.nextInt(80)).map(_ => pool(rnd.nextInt(pool.length))).mkString
    }
    val df = (crafted ++ random).toDF("s")
    for (n <- Seq(1, 2, 5, 6)) {
      val rows = df.select(col("s"),
        graft.functions.ShingleHashes.shingle_hashes(col("s"), n).as("native"),
        shingleBuiltin(col("s"), n).as("builtin")).collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"n=$n mismatch on '${r.getString(0).take(40)}'")
      }
    }
    // interpreted path (no codegen): direct eval
    import org.apache.spark.sql.catalyst.expressions.Literal
    val e = graft.functions.ShingleHashes(
      Literal.create("one two three", org.apache.spark.sql.types.StringType), 2)
    val got = e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(got.numElements() == 2)
  }

  test("registered SQL function and interpreted path") {
    PolyHash.register(spark)
    val got = spark.sql("SELECT poly_hash('abc') AS h").collect().head.getLong(0)
    assert(got == 97L * 31 * 31 + 98L * 31 + 99L)
    // interpreted eval (no codegen): evaluate via a literal expression
    import org.apache.spark.sql.catalyst.expressions.Literal
    val expr = graft.functions.PolyHash(Literal.create("abc",
      org.apache.spark.sql.types.StringType))
    assert(expr.eval(null) == 97L * 31 * 31 + 98L * 31 + 99L)
  }
}
