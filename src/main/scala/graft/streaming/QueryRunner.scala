package graft.streaming

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.catalog.Catalog
import graft.sources.Connectors

/** The one start path of every continuous query the engine runs —
  * pipelines ([[StreamingEngine]]), source connections
  * ([[Connectors.bindSource]]) and the batch ≡ streaming differential
  * ([[StreamingParity]]) — and the one bounded wait. The reference's
  * pipelines and connections share this lifecycle: activate, honour the
  * start position, run until stopped (client.py:381-393, 470-487).
  */
private[graft] object QueryRunner {

  /** Start `plan` as a query checkpointed at `checkpoint`, handing each
    * micro-batch to `sink`:
    *
    *  1. a checkpoint with no logged batch is dropped. A first start
    *     interrupted before its first batch leaves offsets/commits/state
    *     files there, and Spark refuses to start a new query over them
    *     (STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY); no batch ran, so no
    *     sink write is lost by starting from an empty checkpoint.
    *  2. with `skipExisting` on such a first start, an AvailableNow pass
    *     commits source offsets past everything currently present while
    *     discarding its batches — `latest` start-position semantics for
    *     sources without a native skip-existing switch. For stateful
    *     plans the discarded pass still folds the pre-existing rows into
    *     state (only a connector option, as Kafka's `startingOffsets`,
    *     skips them at the source).
    *  3. the query starts under `trigger`.
    */
  def start(plan: DataFrame, checkpoint: String, mode: String, trigger: Trigger,
            skipExisting: Boolean)(sink: (DataFrame, Long) => Unit): StreamingQuery = {
    def launch(t: Trigger, s: (DataFrame, Long) => Unit): StreamingQuery =
      plan.writeStream
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(t)
        .foreachBatch(s)
        .start()
    if (!Connectors.hasCommittedOffsets(checkpoint)) {
      Catalog.deleteRecursively(Paths.get(checkpoint))
      if (skipExisting) launch(Trigger.AvailableNow(), (_, _) => ()).awaitTermination()
    }
    launch(trigger, sink)
  }

  /** Wait up to `timeoutMs` for `q` to finish, throwing `timeoutMessage`
    * when it does not; `q` is stopped either way. */
  def awaitBounded(q: StreamingQuery, timeoutMs: Long)(timeoutMessage: => String): Unit =
    try {
      if (!q.awaitTermination(timeoutMs)) throw new RuntimeException(timeoutMessage)
    } finally if (q.isActive) q.stop()
}
