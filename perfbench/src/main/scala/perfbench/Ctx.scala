package perfbench

import java.nio.file.Path
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Per-invocation state: arguments, the work directory, the Spark session,
  * and the tally of attempted and failed operations.
  */
final class Ctx(val seed: Long, val seconds: Int, val trace: Boolean,
    val smoke: Boolean, val work: Path, val results: Path) {
  var attempted = 0
  var failed = 0
  val failures: ArrayBuffer[String] = ArrayBuffer.empty
  private var session: Option[SparkSession] = None

  def startSpark(cores: Int): SparkSession = {
    val s = Session.start(cores, work)
    session = Some(s)
    s
  }

  def stopSpark(): Unit = { session.foreach(_.stop()); session = None }

  /** One operation: counts as attempted, and as failed if it throws. */
  def attempt[A](what: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f)
    catch {
      case e: Throwable =>
        failed += 1
        failures += s"$what: ${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[perfbench] FAILED $what")
        e.printStackTrace()
        None
    }
  }

  /** A check that is an operation of its own: attempted, and failed on any
    * problem.
    */
  def checkOp(what: String, problems: Seq[String]): Boolean = {
    attempted += 1
    check(what, problems)
  }

  /** Output checks of an operation that ran: any problem fails it. */
  def check(what: String, problems: Seq[String]): Boolean =
    if (problems.isEmpty) true
    else {
      failed += 1
      failures += s"$what: ${problems.mkString("; ")}"
      System.err.println(s"[perfbench] CHECK FAILED $what: ${problems.mkString("; ")}")
      false
    }
}
