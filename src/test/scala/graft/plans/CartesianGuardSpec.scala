package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[CartesianJoinGuard]] — scale lint #2: flags non-equi joins between
  * unbounded sides; stays silent on equi-joins, bounded sides (the
  * library's broadcast-1-row-aggregate crossJoins), and explicit
  * broadcast declarations (the ANN broadcast-queries contract). The
  * suite session registers the rule through
  * `spark.sql.extensions=graft.GraftExtensions`, proving injection. */
class CartesianGuardSpec extends SparkSpec {

  private def withMode[T](mode: String)(f: => T): T = {
    spark.conf.set(CartesianJoinGuard.ModeKey, mode)
    try f finally spark.conf.set(CartesianJoinGuard.ModeKey, "off")
  }

  // parquet-backed corpora: LocalRelations are bounded by design and
  // would exempt everything
  private lazy val dir = {
    val d = tmpDir("cartguard")
    spark.range(2000).select(col("id"), (col("id") % 97).as("v"))
      .write.mode("overwrite").parquet(d)
    d
  }
  private def corpus = spark.read.parquet(dir)

  private def flagged(f: => org.apache.spark.sql.DataFrame): Boolean =
    try { f.collect(); false }
    catch {
      case e: Throwable =>
        val msgs = Iterator.iterate(e: Throwable)(_.getCause)
          .takeWhile(_ != null).map(_.getMessage).filter(_ != null).toSeq
        if (msgs.exists(_.contains("cartesian-shaped join"))) true
        else throw e
    }

  test("fail mode flags a pure range join between corpora") {
    withMode("fail") {
      assert(flagged(corpus.as("a").join(corpus.as("b"),
        col("a.v") < col("b.v"))))
    }
  }

  test("fail mode flags a condition-free crossJoin of corpora") {
    withMode("fail") {
      assert(flagged(corpus.crossJoin(corpus.select(col("v").as("v2")))))
    }
  }

  test("equi-joins pass, including equi + range residual") {
    withMode("fail") {
      assert(!flagged(corpus.as("a").join(corpus.as("b"),
        col("a.v") === col("b.v"))))
      assert(!flagged(corpus.as("a").join(corpus.as("b"),
        col("a.v") === col("b.v") && col("a.id") < col("b.id"))))
    }
  }

  test("a same-side equality does NOT count as an equi-key") {
    withMode("fail") {
      assert(flagged(corpus.as("a").join(corpus.as("b"),
        col("a.v") === col("a.id"))))
    }
  }

  test("a global-aggregate side is bounded: the 1-row crossJoin idiom passes") {
    withMode("fail") {
      val total = corpus.agg(count(lit(1)).as("n"))
      assert(!flagged(corpus.crossJoin(total)))
    }
  }

  test("an explicit broadcast() declaration exempts (the ANN contract)") {
    withMode("fail") {
      val queries = corpus.filter(col("id") < 10)
        .select(col("id").as("qid"), col("v").as("qv"))
      assert(!flagged(corpus.join(broadcast(queries),
        col("v") < col("qv"))))
    }
  }

  test("warn mode does not throw; off mode runs silently") {
    withMode("warn") {
      assert(!flagged(corpus.as("a").join(corpus.as("b"),
        col("a.v") < col("b.v")).limit(1)))
    }
    // no mode set — the same plan must execute
    corpus.as("a").join(corpus.as("b"), col("a.v") < col("b.v"))
      .limit(1).collect()
  }

  test("the library's own gate plans stay clean: groupSimilarity passes") {
    withMode("fail") {
      import spark.implicits._
      val docs = (0 until 200)
        .map(i => (s"src${i % 3}", s"w${i % 17} w${i % 5} w${i % 7}"))
        .toDF("source", "text")
      assert(!flagged(graft.operators.MinHashAgg
        .groupSimilarity(docs, "source", "text")))
    }
  }
}
