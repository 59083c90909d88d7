package graft.perfbench

/** The SQL front-end's statement splitter, which the program keeps
  * package-private, so the benchmark counts statements exactly as
  * `Graft.sqlScript` executes them. */
object Access {
  def sqlStatements(text: String): Int = graft.Graft.splitSqlStatements(text).size
}
