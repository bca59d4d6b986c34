package graft.perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The stored answers: one `name<TAB>fingerprint` line per query.
  *
  * record.py dumps every query the workloads run with
  * graft.tools.VerifySubset, has scripts/check.py compare the dump with
  * DuckDB, and then calls `write` on that dump, so each stored
  * fingerprint is the fingerprint of the result DuckDB checked. */
object Record {

  def load(path: Path): Map[String, String] =
    Files.readAllLines(path).asScala.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, fp) = l.split("\t")
      n -> fp
    }.toMap

  /** Fingerprint each query's dumped result (the parquet files under `<dump>/<name>`)
    * and write them to `out`. Every dump must give the same fingerprint,
    * or the query is not a stable answer. */
  def write(spark: SparkSession, dumps: Seq[String], out: Path): Unit = {
    val lines = Workloads.allQueries.sorted.map { n =>
      val fps = dumps.map(d => Fingerprint.of(spark.read.parquet(Paths.get(d, n).toString))).distinct
      require(fps.size == 1, s"$n is not deterministic: ${fps.mkString(", ")}")
      System.err.println(s"[graftbench] recorded $n ${fps.head}")
      s"$n\t${fps.head}"
    }
    Files.write(out, ("# query\tfingerprint (rows:sum of row hashes) of the dump scripts/check.py checked" +:
      lines).asJava)
  }
}
