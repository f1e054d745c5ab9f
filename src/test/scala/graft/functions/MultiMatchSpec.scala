package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[MultiMatch]] / [[AcAutomaton]] — the fused Aho–Corasick blocklist
  * kernel against a P-contains reference, including overlapping
  * patterns, patterns that are prefixes/suffixes of each other,
  * multi-byte UTF-8, and the codegen path through a real plan. */
class MultiMatchSpec extends SparkSpec {
  import spark.implicits._

  private def viaSpark(texts: Seq[String], pats: Seq[String]): Seq[Seq[Int]] = {
    graft.functions.GraftFunctions.register(spark)
    texts.toDF("t")
      .select(call_function("multi_match", col("t"),
        lit(pats.mkString("\u0001"))).as("hits"))
      .as[Seq[Int]].collect().toSeq
  }

  private def ref(text: String, pats: Seq[String]): Seq[Int] =
    pats.zipWithIndex.filter { case (p, _) => text.contains(p) }.map(_._2)

  test("overlapping, nested, and phrase patterns all match (hand cases)") {
    val pats = Seq("ab", "b", "abc", "bc d", "zz")
    val texts = Seq("abc d", "xbx", "ab ab", "", "zzz")
    assert(viaSpark(texts, pats) == texts.map(ref(_, pats)))
  }

  test("fuzz vs P-contains over random texts incl. multi-byte UTF-8") {
    val alphabet = "abcdeé日 "
    val rnd = new scala.util.Random(7)
    def randStr(n: Int) =
      Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
    val pats = Seq("ab", "é日", "cde", "e ", "ab ab", "日日", "a")
    val texts = (0 until 400).map(_ => randStr(1 + rnd.nextInt(30)))
    assert(viaSpark(texts, pats) == texts.map(ref(_, pats)))
  }

  test("null text yields null; empty text yields empty hits") {
    graft.functions.GraftFunctions.register(spark)
    val got = Seq(Some("ab"), None, Some("")).toDF("t")
      .select(call_function("multi_match", col("t"),
        lit("ab\u0001c")).as("h"))
      .as[Option[Seq[Int]]].collect().toSeq
    assert(got == Seq(Some(Seq(0)), None, Some(Seq.empty)))
  }

  test("kernel runs inside WholeStageCodegen on a parquet-backed plan") {
    val dir = tmpDir("mm")
    (0 until 100).map(i => s"row $i table value").toDF("t")
      .write.mode("overwrite").parquet(dir)
    graft.functions.GraftFunctions.register(spark)
    val df = spark.read.parquet(dir)
      .select(call_function("multi_match", col("t"),
        lit("table\u0001absent")).as("h"))
    // the "*(n)" prefix marks operators fused into a WholeStageCodegen
    // stage; the kernel's Project must carry it (a codegen fallback
    // would print an unstarred Project)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("multi_match"),
      plan)
    assert(df.selectExpr("size(h)").as[Int].collect().forall(_ == 1))
  }

  test("counts: all occurrences including overlapping, vs a brute scan") {
    graft.functions.GraftFunctions.register(spark)
    val pats = Seq("a a", "aa", "ab", "x")
    def brute(t: String, p: String): Long =
      (0 to t.length - p.length).count(i => t.regionMatches(i, p, 0, p.length))
    val texts = Seq("a a a a", "aaaa", "abab x ab", "", "a a")
    val got = texts.toDF("t")
      .select(call_function("multi_match_counts", col("t"),
        lit(pats.mkString("\u0001"))).as("c"))
      .as[Seq[Long]].collect().toSeq
    assert(got == texts.map(t => pats.map(p => brute(t, p))))
  }
}
