package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.AsOfJoinShim

import graft.sources.Tables

/** The native as-of join operator surface (tier c of the extensibility
  * ladder — see [[org.apache.spark.sql.graftshim.AsOfJoinExec]] for the
  * physical design). [[q35AsofNative]] is the registered twin of
  * `Relational.q17Asof`: identical semantics and output columns, one
  * computed by the composed union+window plan, the other by the custom
  * physical operator — both oracled against the same DuckDB `ASOF LEFT
  * JOIN`, which is exactly the differential check a custom exec needs.
  */
object AsOf {

  /** Latest order (max o_orderkey per (custkey, orderdate)) at or before
    * each event's timestamp, via the native as-of exec. Times compare on
    * epoch micros, keys on user/cust id; right-side key/time columns are
    * pre-renamed (r_k, r_t) since the exec emits both schemas.
    */
  def q35AsofNative(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .groupBy("o_custkey", "o_orderdate")
      .agg(max("o_orderkey").as("o_orderkey"))
      .select(
        col("o_custkey").as("r_k"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("r_t"),
        col("o_orderkey"))
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t_us"))
    AsOfJoinShim.asof(ev, ord, "user_id", "r_k", "t_us", "r_t")
      .select(col("event_id"), col("user_id"), col("o_orderkey"))
  }
}
