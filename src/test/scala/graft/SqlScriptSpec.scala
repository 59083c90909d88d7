package graft

/** The SQL front-end's registration of the served tables as temp views. */
class SqlScriptSpec extends SparkTestBase {

  test("a dropped table view is registered again after its handle is collected") {
    val s = spark.newSession()
    def nations() = Graft.sqlScript(s, "SELECT count(*) FROM nation", Some(sfDir)).head().getLong(0)
    assert(nations() == 25L)
    val ref = new java.lang.ref.WeakReference[AnyRef](
      s.sessionState.catalog.getRawTempView("nation").get)
    s.sql("DROP VIEW nation")
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (ref.get != null && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(50)
    }
    assert(ref.get == null, "the dropped view was never collected")
    assert(nations() == 25L)
  }
}
