package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The Spark session every workload runs in: `local[cores]` in this JVM,
  * with scratch space under the run's work directory. Shuffle partitions
  * follow the core count; everything else is Spark's and the engine's
  * default.
  */
object Session {
  def start(cores: Int, work: Path): SparkSession = {
    val local = work.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)

  /** Total size of the regular files under `p`. */
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p))(_.iterator()
      .asScala.filter(Files.isRegularFile(_)).map(f => Files.size(f)).sum)

  /** Number of parquet part files under `p`. */
  def partFiles(p: Path): Int =
    if (!Files.exists(p)) 0
    else scala.util.Using.resource(Files.walk(p))(_.iterator().asScala
      .count(f => f.getFileName.toString.startsWith("part-") &&
        f.getFileName.toString.endsWith(".parquet")))

}
