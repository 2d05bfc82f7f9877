package graft.streaming

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
  StreamingQuery, TimeMode, TimerValues, TTLConfig, ValueState}

/** Per-source ingest QUOTA on a document stream — "admit at most N docs
  * per source, across all batches" — the domain-cap curation primitive
  * (corpus recipes cap per-domain document counts so one crawl cannot
  * dominate the mixture).
  *
  * Built on Spark 4's `transformWithState` (the arbitrary-stateful API
  * that replaces mapGroupsWithState): one `ValueState[Long]` admitted
  * counter per source key in the state store, exact across batches,
  * O(distinct sources) state total. Admission is DETERMINISTIC: each
  * key-batch is sorted by id before consuming quota, so a replay admits
  * the same documents (the keep-lowest-id discipline the batch gates
  * use) regardless of shuffle arrival order.
  *
  * Requires the RocksDB state store provider (a `transformWithState`
  * constraint, checked with a named error). Admitted rows commit through
  * [[DocIngest.commitBatch]] — exactly-once under crash replay. */
object QuotaGate {

  case class DocRow(doc_id: Long, source: String, text: String)

  /** Admits the first `maxPerKey` rows per key (lowest doc_id first
    * within each key-batch); everything after the quota drops. */
  class QuotaProcessor(maxPerKey: Long)
      extends StatefulProcessor[String, DocRow, DocRow] {
    @transient private var admitted: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      admitted = getHandle.getValueState[Long]("admitted",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[DocRow],
        timerValues: TimerValues): Iterator[DocRow] = {
      val have = if (admitted.exists()) admitted.get() else 0L
      val room = math.max(0L, maxPerKey - have)
      // sort the key-batch by id so quota consumption is replay- and
      // shuffle-order-independent (key-batches are bounded by the
      // micro-batch, not the corpus)
      val take = rows.toArray.sortBy(_.doc_id).take(
        math.min(room, Int.MaxValue).toInt)
      admitted.update(have + take.length)
      take.iterator
    }
  }

  def start(spark: SparkSession, inDir: String, schema: String,
      outDir: String, checkpoint: String,
      maxPerSource: Long): StreamingQuery = {
    val provider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass").getOrElse("")
    require(provider.contains("RocksDBStateStoreProvider"),
      "transformWithState requires the RocksDB state store: set " +
        "spark.sql.streaming.stateStore.providerClass to " +
        "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider before starting the quota gate")
    implicit val docEnc = Encoders.product[DocRow]
    val accepted = spark.readStream.schema(schema).parquet(inDir)
      .as[DocRow]
      .groupByKey(_.source)(Encoders.STRING)
      .transformWithState(new QuotaProcessor(maxPerSource),
        TimeMode.None(), OutputMode.Append(), docEnc)
    DocIngest.eachBatch(accepted.toDF(), checkpoint) { (batch, batchId) =>
      DocIngest.commitBatch(batch, batchId, outDir)
    }
  }
}
