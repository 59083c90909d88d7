package graft

/** Sessions run with Spark's per-session artifact isolation off: a local
  * task then runs under the application's class loader, not an
  * `ExecutorClassLoader` that fetches every class Janino cannot resolve
  * over RPC from the driver while it compiles whole-stage codegen. */
class ArtifactIsolationSpec extends SparkTestBase {

  test("local tasks run under the application class loader, not an ExecutorClassLoader") {
    val session = spark
    import session.implicits._
    val loaders = Seq(1, 2, 3, 4).toDS()
      .map(_ => Thread.currentThread.getContextClassLoader.getClass.getName)
      .collect().distinct
    assert(loaders.nonEmpty)
    assert(!loaders.contains("org.apache.spark.executor.ExecutorClassLoader"), loaders.mkString(", "))
    assert(session.conf.get("spark.sql.artifact.isolation.enabled") == "false")
  }
}
