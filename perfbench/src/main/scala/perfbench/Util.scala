package perfbench

import java.nio.file.{Files => JFiles, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Local-filesystem helpers for the benchmark's own work directories. */
object Files {
  private def walk[T](root: String)(f: java.util.stream.Stream[Path] => T): Option[T] = {
    val p = Paths.get(root)
    if (!JFiles.exists(p)) None
    else {
      val s = JFiles.walk(p)
      try Some(f(s)) finally s.close()
    }
  }

  /** Bytes of all regular files under `root`, or of `root` itself. */
  def size(root: String): Long =
    walk(root)(_.filter(JFiles.isRegularFile(_)).mapToLong(JFiles.size(_)).sum()).getOrElse(0L)

  def delete(root: String): Unit =
    walk(root)(_.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => { JFiles.deleteIfExists(p); () }))
}

/** The facts the input generator recorded in `manifest.json`. */
object Manifest {
  private def read(dir: String, file: String): JsonNode =
    new ObjectMapper().readTree(Paths.get(dir, file).toFile)

  final case class Etl(customers: Long, agents: Seq[Seq[String]], staticRawRows: Long,
                       days: Seq[JsonNode]) {
    /** Rows the call-log fact holds once day `d` is loaded. */
    def factRows(d: Int): Long = days(d).get("fact_rows").asLong()
    def rawRows(d: Int): Long = days(d).get("raw_rows").asLong()
  }

  def etl(dir: String): Etl = {
    val m = read(dir, "manifest.json")
    val agents = read(dir, "agents.json").elements().asScala.map(a =>
      Seq("iD", "NamE", "experience", "state").map(a.get(_).asText())).toSeq
    Etl(m.get("rows").get("customers").asLong(), agents,
      m.get("static_raw_rows").elements().asScala.map(_.asLong()).sum,
      m.get("days").elements().asScala.toSeq)
  }
}
