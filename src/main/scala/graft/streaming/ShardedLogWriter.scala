package graft.streaming

import java.nio.file.{Path, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Write side of the sharded log: lays rows out as the per-shard record
  * files the source reads, the durable counterpart of [[BatchingSink]]
  * (which models the transport semantics). Files are published whole
  * (write-temp + atomic move, as ShardedLog.append) and REPLACE what is
  * at their sequence, so rewriting a layout — a replayed epoch, when
  * checkpoint recovery re-runs foreachBatch — is idempotent.
  *
  * Scale: rows are repartitioned by shard and sorted within each
  * partition (a sort that spills), so each task writes its shards
  * locally, in order, streaming every record into its file as it comes:
  * no driver collection, no record buffer, no cross-task file contention.
  */
object ShardedLogWriter {

  /** Lays out `rows`, columns `(shard, order…, payload)`, as per-shard
    * files of `chunk` records in `order…` order: a shard's i-th file is
    * published at `f + i` for every `f` of `firstSeqs` (a second `f` is a
    * redelivery of the whole layout). The payload is binary, or a string
    * written as its UTF-8 bytes. */
  def write(root: Path, rows: DataFrame, chunk: Int, firstSeqs: Seq[Long] = Seq(1L)): Unit = {
    val keyed = rows.toDF(rows.columns.indices.map("c" + _): _*)
    val rootStr = root.toString
    keyed.repartition(col("c0")).sortWithinPartitions(keyed.columns.init.map(col).toSeq: _*)
      .select(col("c0").cast("string"), col(keyed.columns.last).cast("binary"))
      .foreachPartition { (it: Iterator[Row]) =>
        val rows = it.buffered
        var (shard, i) = (null: String, 0L)
        while (rows.hasNext) {
          if (rows.head.getString(0) != shard) { shard = rows.head.getString(0); i = 0L }
          ShardedLog.publish(Paths.get(rootStr), shard, firstSeqs.map(_ + i),
            Iterator.range(0, chunk).takeWhile(_ => rows.hasNext && rows.head.getString(0) == shard)
              .map(_ => rows.next().getAs[Array[Byte]](1)))
          i += 1
        }
      }
  }

  /** Writer for `writeStream.foreachBatch(...)` over columns
    * `shard: string, value: string`: epoch `e` writes one file per shard
    * at sequence `e + 1`, so per-shard sequences grow across batches. */
  def foreachBatchWriter(root: Path): (DataFrame, Long) => Unit =
    (batch, epochId) =>
      write(root, batch.select(col("shard"), col("value")), Int.MaxValue, Seq(epochId + 1L))
}
