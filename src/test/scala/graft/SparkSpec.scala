package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for ScalaTest suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  private val scratchDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh directory under `java.io.tmpdir`, deleted with its
    * contents after the suite's last test. */
  def scratch(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    scratchDirs.add(d)
    d.toString
  }

  override protected def afterAll(): Unit =
    try scratchDirs.forEach(d => SparkSpec.delete(d)) finally super.afterAll()
}

object SparkSpec {
  private lazy val warehouse = Files.createTempDirectory("graft-warehouse")

  lazy val session: SparkSession = {
    // the test JVM leaves nothing under java.io.tmpdir: the warehouse,
    // and the pid-scoped scratch the library writes for this process
    // (PidScratch's `<tmpdir>/<base>/<pid>`)
    sys.addShutdownHook {
      delete(warehouse)
      val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
      val pid = ProcessHandle.current().pid().toString
      val bases = Files.list(tmp)
      try bases.filter(b => Files.isDirectory(b.resolve(pid))).forEach { b =>
        delete(b.resolve(pid))
        val rest = Files.list(b)
        val empty = try !rest.findAny().isPresent finally rest.close()
        if (empty) Files.deleteIfExists(b)
      } finally bases.close()
    }
    Sessions.local(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
  }

  /** Delete `p` and everything under it, if it exists. */
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val paths = Files.walk(p)
    try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach { x =>
      Files.deleteIfExists(x); ()
    } finally paths.close()
  }
}
