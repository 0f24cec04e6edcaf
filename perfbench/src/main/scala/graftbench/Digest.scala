package graftbench

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.GatherScatter.{mix, RankBlock}

/** Order-insensitive result fingerprints. Computing one is the action that
  * forces a call's result, so it sits inside the timed window; it costs one
  * pass over the (small) result. */
object Digest {

  /** Exact: every (id, value) pair, bit for bit. */
  def ranks(r: RDD[RankBlock]): String = {
    val (n, h) = r.map { b =>
      var h = 0L
      var i = 0
      while (i < b.ids.length) {
        h += mix(b.ids(i) * 0x9E3779B97F4A7C15L ^ java.lang.Double.doubleToLongBits(b.pr(i)))
        i += 1
      }
      (b.ids.length.toLong, h)
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    s"$n:${java.lang.Long.toHexString(h)}"
  }

  /** Floating values rounded to 6 decimals (as the result compare does),
    * recursively through arrays and structs. */
  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType | _: DecimalType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _) => transform(c, x => normalize(x, et))
    case st: StructType =>
      struct(st.fields.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
    case _ => c
  }

  /** Row count plus the sum of a 64-bit hash of each row (columns in name
    * order), split into 32-bit halves so the sums cannot overflow. */
  def frame(df: DataFrame): String = {
    val cols = df.schema.fields.sortBy(_.name).map(f => normalize(col(s"`${f.name}`"), f.dataType))
    val h = xxhash64(cols.toIndexedSeq: _*)
    val row = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xFFFFFFFFL)), sum(shiftrightunsigned(col("h"), 32)))
      .head()
    val lo = if (row.isNullAt(1)) 0L else row.getLong(1)
    val hi = if (row.isNullAt(2)) 0L else row.getLong(2)
    s"${row.getLong(0)}:${java.lang.Long.toHexString(lo)}:${java.lang.Long.toHexString(hi)}"
  }

  /** Collected (id -> value) of rank blocks, for the untimed checks. */
  def collect(r: RDD[RankBlock]): Map[Long, Double] =
    r.flatMap(b => b.ids.iterator.zip(b.pr.iterator)).collect().toMap
}
