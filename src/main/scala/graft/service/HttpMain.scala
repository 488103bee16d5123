package graft.service

import graft.core.Sessions

/** Runnable analytics server: serves the full HTTP facade (dashboard
  * query/drill-down/filter-values/schema, anomalies, insights,
  * visualizations, unified + staged pipelines) over the parquet tables in
  * a data directory — the reference's `uvicorn src.api.main:app` moment.
  *
  *   sbt "runMain graft.service.HttpMain /root/testdata/sf0.01 8080"
  *
  * Table names resolve to `<dir>/<name>.parquet`.
  */
object HttpMain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val port = args.lift(1).map(_.toInt).getOrElse(8080)
    val master = sys.env.getOrElse("SPARK_MASTER", "local[*]")
    val spark = Sessions.builder(master, 32)
      .appName("graft-http")
      // dashboard = many users: FAIR scheduling time-slices concurrent
      // requests' jobs (each HttpFacade thread tags its own pool) instead
      // of FIFO-queueing light queries behind heavy ones
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val http = new HttpFacade(Facade.Tables(graft.core.Tables.table(spark, dir, _)))
    val bound = http.start(port)
    System.err.println(s"[graft-http] serving $dir on http://127.0.0.1:$bound")
    Thread.currentThread().join() // serve until killed
  }
}
