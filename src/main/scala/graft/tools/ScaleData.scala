package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materialize a K× replication of an SF directory for bench-only scale
  * probes (round-4 verdict #5: a full-matrix run above sf0.1). NOT test
  * data generation — correctness gates keep reading the driver's
  * parquet; this tool only scales the driver's own rows so per-gate
  * sf0.1→sf1 time ratios can be recorded (PERF.md) and super-linear
  * gates flagged.
  *
  * Replication preserves the join graph: every foreign/primary key is
  * shifted by the same per-replica offset, so replica i's orders join
  * replica i's customers and the fact/dim cardinality RATIOS match a
  * genuinely larger SF. `nation`/`region` stay 1× (dims a larger TPC-H
  * SF also keeps constant — broadcast joins must stay broadcasts).
  *
  * `documents.text` and `embeddings.embedding` get per-replica
  * ISOMORPHIC transforms: every token maps bijectively to a
  * replica-tagged token (so Jaccard/shingle/minhash/simhash structure
  * WITHIN a replica is preserved exactly, while cross-replica token
  * overlap is zero), and every embedding passes through a per-replica
  * signed coordinate rotation (orthogonal, so all intra-replica
  * cosines are exactly preserved, while cross-replica cosines collapse
  * to random-projection noise, E|cos| ≈ 1/√d ≈ 0.125 at d=64).
  * Measured before this scheme: verbatim-ish copies (text suffix only,
  * embedding +1e-4) left replicas inside the near-dup thresholds
  * (cosine ≈ 1.0 vs the 0.45 gate; simhash within hamming 3), so
  * cross-replica pair OUTPUT grew ~K² by construction and
  * `embedding_neardup`/`dedup_simhash` read 18×/13× at 10× data — an
  * artifact of the replication, not the plan. A real 10× corpus grows
  * its near-dup structure ~linearly; the isomorphic transforms
  * reproduce that.
  *
  * `runMain graft.tools.ScaleData <srcSfDir> <outDir> <K> [tables]`
  * — `tables` is an optional comma list (e.g. `documents,embeddings`)
  * restricting materialization to the tables a probe actually reads;
  * sf10 (K=100) of the full TPC-H set would write ~1 GB of lineitem
  * no pair-operator probe ever opens.
  */
object ScaleData {
  private val Off = 100000000L // clears every driver id range

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/sf1")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val only: Option[Set[String]] =
      args.lift(3).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def wanted(t: String): Boolean = only.forall(_.contains(t))
    val spark = Probe.session()

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(t: String, df: DataFrame): Unit = if (wanted(t)) {
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaledata] $t -> $out/$t.parquet")
    }
    /** K copies with `keys` shifted by i*Off; `extra` applied per replica. */
    def rep(t: String, keys: Seq[String],
            extra: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = if (wanted(t)) {
      val base = read(t)
      val all = (0 until k).map { i =>
        val shifted = keys.foldLeft(base)((d, c) =>
          d.withColumn(c, col(c) + lit(i * Off)))
        extra(shifted, i)
      }.reduce(_ unionAll _)
      write(t, all)
    }

    write("region", read("region"))
    write("nation", read("nation"))
    rep("customer", Seq("c_custkey"))
    rep("supplier", Seq("s_suppkey"))
    rep("part", Seq("p_partkey"))
    rep("orders", Seq("o_orderkey", "o_custkey"))
    rep("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    rep("events", Seq("event_id", "user_id"))
    // token bijection t -> "t~i": within-replica shingle/minhash/simhash
    // relations are isomorphic to the original corpus; across replicas
    // no token matches, so candidate buckets never span replicas
    rep("documents", Seq("doc_id"), (d, i) =>
      if (i == 0) d
      else d.withColumn("text",
          concat_ws(" ", transform(split(col("text"), " "),
            t => concat(t, lit(s"~$i")))))
        .withColumn("n_chars", length(col("text")).cast("long")))
    // signed coordinate rotation: e'[j] = ±e[(j + 7i) mod d] with the
    // sign a hash of (replica, j) — an exact orthogonal map, so every
    // intra-replica cosine is unchanged and cross-replica cosines are
    // random-projection noise (E|cos| ≈ 1/√d ≈ 0.125 at d=64)
    rep("embeddings", Seq("vec_id"), (d, i) =>
      if (i == 0) d
      else {
        val dim = size(col("embedding"))
        d.withColumn("embedding",
          transform(sequence(lit(0), dim - 1), j =>
            element_at(col("embedding"), pmod(j + lit(7 * i), dim) + 1) *
              when(pmod(xxhash64(lit(i) * lit(1000003L) + j), lit(2)) === 0, lit(1.0f))
                .otherwise(lit(-1.0f))))
      })
    spark.stop()
  }
}
