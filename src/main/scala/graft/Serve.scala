package graft

/** Service entry point (reference `src/main.py` + its uvicorn/granian
  * launch): build config from the environment, bring up the engine
  * session, run the startup connection check, register the testdata
  * (or `GRAFT_DATA_DIR`) tables, and serve the HTTP façade until
  * terminated.
  *
  * `sbt "runMain graft.Serve"` — port from `GRAFT_SERVER_PORT`
  * (default 8000).
  */
object Serve {
  def main(args: Array[String]): Unit = {
    val cfg = GraftConfig.fromEnv()
    val dataDir = sys.env.getOrElse("GRAFT_DATA_DIR", SparkEntry.SmallestSfDir)
    val spark = GraftSession.sized(dataDir).appName("graft-serve").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Lifespan.startupCheck(spark)
    if (new java.io.File(dataDir).isDirectory)
      sources.Tables.registerAll(spark, dataDir)
    else
      // a typo'd or not-yet-mounted data dir must not start a
      // server that answers every query with obscure
      // table-not-found errors and no hint why
      System.err.println(s"WARNING: data dir '$dataDir' does not exist — " +
        "serving with NO tables registered (set GRAFT_DATA_DIR)")
    val facade = cfg.buildFacade(spark)
    facade.start(cfg.server.port)
    println(s"graft facade serving on port ${facade.port}")
    // serve until the process is terminated (reference: 1 ASGI worker)
    Thread.currentThread().join()
  }
}
