package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive output signatures, normalized the way the DuckDB
  * oracle compare (`tools/check.py`, `norm`) normalizes values: floating
  * and decimal values rounded to 6 places, columns and struct fields in
  * name order, map entries sorted. A signature is the row count plus two
  * sums over per-row 64-bit hashes (low and high 32-bit halves, so the
  * sums cannot overflow), which no row order changes.
  */
object Signature {
  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType | _: DecimalType =>
      round(c.cast(DoubleType), 6)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) =>
      struct(fs.sortBy(_.name).toIndexedSeq
        .map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        norm(e.getField("key"), kt).as("k"),
        norm(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  private def normalized(df: DataFrame): Seq[Column] =
    df.schema.fields.sortBy(_.name).toIndexedSeq
      .map(f => norm(col(s"`${f.name}`"), f.dataType).as(f.name))

  /** Run `df` through the benchmark's `noop` sink and return its
    * signature `rows:sumLow:sumHigh`, gathered by an [[Observation]]
    * during that execution.
    */
  def of(df: DataFrame): String = {
    val obs = Observation("signature")
    val h = xxhash64(normalized(df): _*)
    Harness.sink(df.observe(obs, count(lit(1)).as("n"),
      sum(h.bitwiseAND(lit(0xffffffffL))).as("lo"),
      sum(shiftrightunsigned(h, 32)).as("hi")))
    val m = obs.get
    def v(k: String): Any = Option(m(k)).getOrElse(0L)
    s"${v("n")}:${v("lo")}:${v("hi")}"
  }

  /** Every normalized row as JSON, sorted — for small frames compared
    * row by row (the 18-row QA report).
    */
  def rows(df: DataFrame): Seq[String] =
    df.select(to_json(struct(normalized(df): _*)).as("j"))
      .collect().map(_.getString(0)).toSeq.sorted
}
