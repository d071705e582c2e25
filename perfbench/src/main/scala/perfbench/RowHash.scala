package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent fingerprint of a result: row count plus the sum of one
  * 64-bit hash per row over every column. Unlike `count()`, it makes the
  * optimizer compute every column of every row, so it is both the timed
  * action of a query and its correctness check. */
object RowHash {
  final case class Fp(rows: Long, hash: java.math.BigDecimal) {
    override def toString: String = s"$rows:${hash.toPlainString}"
  }

  /** `onPlan` sees the executed fingerprint query, whose final plan holds
    * the result's own plan. */
  def of(df: DataFrame, onPlan: DataFrame => Unit = _ => ()): Fp = {
    // positional names: results may carry duplicate or dotted names
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => hashable(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val fp = named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(20, 0))))
    // collect() runs `fp`'s own query execution, so its plan is the final one
    val r = fp.collect()(0)
    onPlan(fp)
    Fp(r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** Hash expressions reject maps and user-defined types: maps become
    * their key-sorted entries, other types their JSON rendering. */
  private def hashable(c: Column, t: DataType): Column = t match {
    case m: MapType => array_sort(map_entries(c))
    case _: UserDefinedType[_] => to_json(struct(c))
    case _ => c
  }
}
