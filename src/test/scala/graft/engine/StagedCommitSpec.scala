package graft.engine

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.schema.StreamSchema

/** Fault injection into [[StagedCommit]]: every stage step and every
  * commit step of a multi-store forget and of an ANN rebuild fails once.
  * After the next read, no stage survives, the commit happened on every
  * store or on none, and every sibling's epoch pins agree with the
  * stores. Staging runs on daemon threads, and none is left over. */
class StagedCommitSpec extends SparkSpec {
  import StagedCommit.{Commit, Stage}

  private val crash = new RuntimeException("injected fault")

  /** Arm the hook to throw at the first (`phase`, `store`) step only. */
  private def failOnce(e: Engine, phase: String, store: String): Unit = {
    val armed = new AtomicBoolean(true)
    e.commits.hook = (p, s) =>
      if (p == phase && s == store && armed.getAndSet(false)) throw crash
  }

  private def clean(e: Engine, store: String): Boolean =
    !Files.exists(Paths.get(e.catalog.dataPath(store) + ".rewrite")) &&
      !Files.exists(Paths.get(e.catalog.dataPath(store) + ".old"))

  private def epoch(e: Engine, store: String): Long =
    e.catalog.get(store).get.writeEpoch

  private def stagingThreads: Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName == "graft-stage" && t.isAlive).toSet

  /** Distinct texts (no MinHash collisions) and 4-cluster embeddings. */
  private def corpus(n: Int): DataFrame =
    spark.range(n).select(col("id"),
      concat_ws(" ", (0 until 7).map(j => concat(lit(s"w$j-"), col("id"))): _*)
        .as("txt"),
      expr("transform(sequence(0, 15), j -> CAST(" +
        "(CASE WHEN j % 4 = id % 4 THEN 4.0 ELSE 0.2 END) + " +
        "(pmod(xxhash64(id, j), 100) / 500.0) AS FLOAT))").as("embedding"))

  test("a fault at any stage or commit step of a forget is all-or-nothing across siblings") {
    val e = new Engine(spark, tmpDir("graft-staged"))
    e.createStream("docs", StreamSchema.fromStruct(corpus(1).schema))
    e.appendRows("docs", corpus(40))
    val none = corpus(40).limit(0)
    // bootstrap every sibling family from the standing corpus
    e.appendRowsDeduped("docs", none, "id", "txt")
    e.appendRowsDedupedEmbedding("docs", none, "id", "embedding", dims = 16)
    assert(e.ensureAnnIndex("docs", "id", "embedding"))
    val siblings = Seq(e.annIndexName("docs"), e.mhPostingsName("docs"),
      e.mhSignaturesName("docs"), e.lshIndexName("docs"))
    val stores = "docs" +: siblings

    /** Every sibling's pins agree with the current epochs. */
    def pinsConsistent: Boolean = {
      def p(s: String) = e.catalog.get(s).get.properties
      val main = epoch(e, "docs").toString
      val (ann, post, lsh) = (p(siblings(0)), p(siblings(1)), p(siblings(3)))
      ann("ann_main_epoch") == main && post("mh_main_epoch") == main &&
        lsh("lsh_main_epoch") == main &&
        ann("ann_idx_epoch") == epoch(e, siblings(0)).toString &&
        ann("ann_cent_epoch") == epoch(e, e.annCentroidsName("docs")).toString &&
        post("mh_post_epoch") == epoch(e, siblings(1)).toString &&
        post("mh_sig_epoch") == epoch(e, siblings(2)).toString &&
        lsh("lsh_idx_epoch") == epoch(e, siblings(3)).toString
    }
    /** Whether main and each sibling still hold `id` (main read first: it
      * is the next read that settles an interrupted commit). */
    def holds(id: Long): Seq[Boolean] =
      (e.readStream("docs").filter(col("id") === id).count() > 0) +:
        siblings.map(s => e.readStream(s).filter(col("ex_id") === id).count() > 0)
    assert(pinsConsistent, "every family must be live before the faults")

    val daemons = new AtomicBoolean(true)
    var victim = 0L
    for (phase <- Seq(Stage, Commit); store <- stores) {
      val before = stores.map(epoch(e, _))
      failOnce(e, phase, store)
      val inner = e.commits.hook
      e.commits.hook = (p, s) => {
        if (p == Stage && !Thread.currentThread.isDaemon) daemons.set(false)
        inner(p, s)
      }
      assert(intercept[RuntimeException](
        e.forgetRows("docs", col("id") === victim)) eq crash, s"$phase@$store")
      e.commits.hook = (_, _) => ()
      val held = holds(victim)
      assert(stores.forall(clean(e, _)), s"$phase@$store: a stage survived")
      assert(e.catalog.manifests().size == 0, s"$phase@$store: a commit is left")
      val after = stores.map(epoch(e, _))
      if (phase == Stage) {
        assert(held.forall(identity), s"$phase@$store: partial forget $held")
        assert(after == before, s"$phase@$store: epochs moved")
      } else {
        assert(held.forall(!_), s"$phase@$store: partial forget $held")
        assert(after == before.map(_ + 1), s"$phase@$store: epochs $before -> $after")
      }
      assert(pinsConsistent, s"$phase@$store: stale pins")
      victim += 1
    }
    assert(daemons.get, "staging threads must be daemons")
    // the index still serves after the roll-forwards, without the victims
    assert(!e.ensureAnnIndex("docs", "id", "embedding"))
    e.close()
    assert(stagingThreads.isEmpty, "no staging thread may outlive the commits")
  }

  test("a fault at any stage or commit step of an ANN rebuild aborts or rolls forward") {
    val e = new Engine(spark, tmpDir("graft-staged-ann"))
    e.createStream("vecs", StreamSchema.fromStruct(
      corpus(1).select("id", "embedding").schema))
    e.appendRows("vecs", corpus(40).select("id", "embedding"))
    assert(e.ensureAnnIndex("vecs", "id", "embedding"))
    val stores = Seq(e.annCentroidsName("vecs"), e.annIndexName("vecs"))
    var novel = 1000L
    for (phase <- Seq(Stage, Commit); store <- stores) {
      // an out-of-band row makes the index stale: the ensure rebuilds
      e.appendRows("vecs", corpus(1).select(lit(novel).as("id"), col("embedding")))
      val before = stores.map(epoch(e, _))
      failOnce(e, phase, store)
      assert(intercept[RuntimeException](
        e.ensureAnnIndex("vecs", "id", "embedding")) eq crash, s"$phase@$store")
      e.commits.hook = (_, _) => ()
      val indexed = e.readStream(stores(1)).filter(col("ex_id") === novel).count()
      e.readStream(stores(0)).count()
      assert(stores.forall(clean(e, _)), s"$phase@$store: a stage survived")
      assert(e.catalog.manifests().size == 0, s"$phase@$store: a commit is left")
      val after = stores.map(epoch(e, _))
      if (phase == Stage) {
        assert(indexed == 0L && after == before, s"$phase@$store: partial build")
        assert(e.ensureAnnIndex("vecs", "id", "embedding"), "still stale: rebuilds")
      } else {
        assert(indexed == 1L && after == before.map(_ + 1),
          s"$phase@$store: epochs $before -> $after")
        assert(!e.ensureAnnIndex("vecs", "id", "embedding"), "rolled forward: live")
      }
      novel += 1
    }
    e.close()
    assert(stagingThreads.isEmpty, "no staging thread may outlive the commits")
  }
}
