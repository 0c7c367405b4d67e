package graftbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Materializes a result by writing every column to the `noop` sink, and
  * observes, in the same execution, its row count and an
  * order-insensitive hash of all its columns. */
object Check {
  final case class Result(rows: Long, xor: Long, sum: Long) {
    def key: String = s"$rows/$xor/$sum"
  }

  private def positional(df: DataFrame): DataFrame =
    df.toDF(df.columns.indices.map(i => s"c$i"): _*)

  /** Per-row xxhash64 over every column of `df` (maps are hashed through
    * their JSON text, which xxhash64 cannot take directly). */
  def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => to_json(df.col(s"`${f.name}`"))
        case _ => df.col(s"`${f.name}`")
      }
    }
    if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
  }

  def run(df: DataFrame): Result = {
    val d = positional(df)
    val h = rowHash(d)
    val obs = Observation()
    d.observe(obs, count(lit(1)).as("n"), bit_xor(h).as("x"),
        sum(shiftrightunsigned(h, 20)).as("s"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    def l(k: String): Long = m.get(k) match {
      case Some(v: java.lang.Number) => v.longValue
      case _ => 0L
    }
    Result(l("n"), l("x"), l("s"))
  }
}
