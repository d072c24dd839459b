package graft

import org.scalatest.Assertions

/** DuckDB's JDBC driver from the local artifact cache, for specs that
  * run SQL live on DuckDB. On a machine without the jar, `connect`
  * cancels the calling test instead of failing it. */
object DuckDbJdbc {
  private lazy val jar: Option[java.io.File] = {
    val root = new java.io.File(sys.props("user.home"), ".cache/coursier")
    if (!root.isDirectory) None
    else {
      val walk = java.nio.file.Files.walk(root.toPath)
      try {
        val hit = walk
          .filter(p => p.getFileName.toString.matches("duckdb_jdbc-[0-9.]+\\.jar"))
          .findFirst()
        if (hit.isPresent) Some(hit.get.toFile) else None
      } finally walk.close()
    }
  }

  // one loader per JVM: DuckDB's native library loads once, and a
  // second class loader could not load it again
  private lazy val driver: java.sql.Driver = {
    val loader = new java.net.URLClassLoader(
      Array(jar.get.toURI.toURL), getClass.getClassLoader)
    loader.loadClass("org.duckdb.DuckDBDriver")
      .getDeclaredConstructor().newInstance().asInstanceOf[java.sql.Driver]
  }

  /** A fresh in-memory database; the caller closes it. */
  def connect(): java.sql.Connection = {
    Assertions.assume(jar.nonEmpty, "duckdb_jdbc jar not in the local artifact cache")
    driver.connect("jdbc:duckdb:", new java.util.Properties)
  }
}
