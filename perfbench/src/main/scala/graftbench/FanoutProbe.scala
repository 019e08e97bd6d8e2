package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import graft.{ObjectStoreView, SparkEntry}
import graft.operators.Namespace

/** Counts the scan fan-out exchanges of the registry query `ns_du` and of
  * the public `Namespace.du(keys, 3)` it binds, planned over the same
  * tables (no job runs). The registry path applies the per-query fan-out
  * decision; the public call gets the library default.
  *
  * Usage: graftbench.FanoutProbe <data dir written by a run>
  */
object FanoutProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def fanouts(df: DataFrame): Int = Tracer.nodes(df.queryExecution.executedPlan)
      .count { case e: ShuffleExchangeExec => e.shuffleOrigin == REPARTITION_BY_NUM
               case _ => false }
    try {
      val registry = fanouts(SparkEntry.queries("ns_du")(spark, dir))
      val public = fanouts(Namespace.du(ObjectStoreView.keys(spark, dir), 3))
      val files = Files.dataFiles(new java.io.File(s"$dir/lineitem.parquet"))
      println(Json(Map("master" -> s"local[$cores]", "lineitem_files" -> files.size,
        "lineitem_bytes" -> files.map(_.length).sum,
        "fanout_exchanges" -> Map("ns_du" -> registry, "Namespace.du(keys, 3)" -> public))))
    } finally spark.stop()
  }
}
