package graft.catalog

import java.nio.file.{Files, Paths}

/** The reference implementation's checkout, `~/reference`: its `spec/`
  * corpus (the `.wv` and SQL suites, and the TPC-H dbgen parquet under
  * `spec/tpch/data`) backs the TPC-H catalog rows and the compatibility
  * suites. Nothing reads it until a row runs or a suite asks. */
object ReferenceCorpus {

  val root: String = Paths.get(sys.props("user.home"), "reference").toString

  /** The absolute path of a corpus-relative path. */
  def path(rel: String): String = s"$root/$rel"

  def exists(rel: String): Boolean = Files.exists(Paths.get(path(rel)))

  /** Fails with one message naming every missing file. */
  def require(rels: String*): Unit = {
    val missing = rels.filterNot(exists)
    if (missing.nonEmpty)
      throw new java.io.FileNotFoundException(
        s"reference corpus missing under $root: ${missing.mkString(", ")}")
  }

  /** A corpus file's UTF-8 text. */
  def read(rel: String): String = {
    require(rel)
    new String(Files.readAllBytes(Paths.get(path(rel))), java.nio.charset.StandardCharsets.UTF_8)
  }
}
