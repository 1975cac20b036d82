package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Host shape and noise readings recorded in every result. */
object Host {
  def nproc: Int = Runtime.getRuntime.availableProcessors()

  private def procLine(file: String, key: String): Option[String] =
    scala.util.Try(Files.readAllLines(Paths.get(file)).asScala
      .find(_.startsWith(key)).map(_.stripPrefix(key).trim)).toOption.flatten

  def memTotalKb: Long =
    procLine("/proc/meminfo", "MemTotal:").map(_.split("\\s+")(0).toLong).getOrElse(0L)

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double =
    procLine("/proc/self/status", "VmHWM:").map(_.split("\\s+")(0).toDouble / 1024.0)
      .getOrElse(0.0)

  def loadavg: String =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim)
      .getOrElse("unknown")

  def heapFlags: Seq[String] =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("-Xm") || a.startsWith("-Xs") || a.startsWith("-XX:")).toSeq

  def jvmStartMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def json(sparkVersion: String, sourceRev: String): String = Json.obj(Seq(
    "nproc" -> nproc.toString,
    "mem_total_kb" -> memTotalKb.toString,
    "jvm_flags" -> heapFlags.map(Json.str).mkString("[", ",", "]"),
    "jdk" -> Json.str(System.getProperty("java.version")),
    "scala" -> Json.str(scala.util.Properties.versionNumberString),
    "spark" -> Json.str(sparkVersion),
    "source_rev" -> Json.str(sourceRev)))
}
