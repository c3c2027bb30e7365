package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.types.LongType

/** Scalable deterministic surrogate keys (SURVEY.md §7.4.1).
  *
  * `ROW_NUMBER() OVER (ORDER BY …)` with no partition moves every row to
  * ONE partition — fine for dimension tables, fatal for a 100 TB fact.
  * This assigns the identical numbering with a range-repartitioned sort
  * (each partition holds a contiguous key range) + `zipWithIndex` (which
  * runs one lightweight count job over the first N-1 partitions to
  * compute offsets). Rows that tie on the full sort key are bit-identical
  * rows in our fact (the key includes every distinguishing column), so
  * their relative numbering is immaterial.
  *
  * The fact pipeline itself uses composite per-patient keys (no global
  * sort at all, `Stage.factRaw`); this module is the dense-global-number
  * fallback for consumers that genuinely need gap-free ids.
  */
object SurrogateKeys {

  /** The sort's checkpoint goes to `checkpoint`, which owns its release
    * once the numbered frame is no longer read. The default hands it to
    * [[Scratch]], released at the next query boundary — right for
    * per-invocation query paths (w2/w4); the stage layer releases
    * dim_provider's right after writing it.
    */
  def withGlobalRowNumber(df: DataFrame, keyName: String,
      order: Seq[Column],
      checkpoint: DataFrame => Unit = Scratch.track(_)): DataFrame = {
    val spark = df.sparkSession
    // localCheckpoint materializes the sorted rows once (zipWithIndex's
    // offset-count job would otherwise run the range sort twice); its
    // owner releases the blocks, so repeated calls don't accumulate
    // executor storage for the life of the session. It also copies rows
    // internally (the scan reuses one UnsafeRow per partition).
    val sorted = df.repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .localCheckpoint()
    checkpoint(sorted)
    val schema = sorted.schema.add(keyName, LongType, nullable = false)
    // Stay on InternalRow — boxing 800k+ wide rows through the public Row
    // API costs more than the numbering itself. JoinedRow reuse follows
    // the standard per-partition iterator contract (consumers copy when
    // they buffer).
    val internal = sorted.queryExecution.toRdd.zipWithIndex()
      .mapPartitions { it =>
        val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
        val idxRow = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(1)
        it.map { case (row, idx) =>
          idxRow.setLong(0, idx + 1L)
          joined(row, idxRow)
            : org.apache.spark.sql.catalyst.InternalRow
        }
      }
    org.apache.spark.sql.GraftSqlBridge
      .internalCreateDataFrame(spark, internal, schema)
  }
}
