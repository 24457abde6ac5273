package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Base of every Spark spec: the [[Sessions]] profile at 4 cores.
  *
  * sbt runs all suites in one forked JVM, so they share one session. A
  * suite that needs another profile sets it in `beforeAll` and restores
  * it in `afterAll`; a suite that leaves the session conf changed FAILS
  * here instead of silently re-profiling every suite after it. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {

  implicit lazy val spark: SparkSession = Sessions.local(4)

  private var confBefore = Map.empty[String, String]

  /** The one conf a read may set for the rest of the session:
    * `Tables.events` owns the NANOS decode of `events.ts` and turns it on
    * at first read. Only that unset → "true" step passes the leak check. */
  private val setOnRead = Map("spark.sql.legacy.parquet.nanosAsLong" -> "true")

  override protected def beforeAll(): Unit = {
    confBefore = spark.conf.getAll
    super.beforeAll()
  }

  /** Runs `body` with `confs` set, then puts each key back as it was
    * (unset if it was unset — `conf.getOption` would report a default). */
  protected def withConf[A](confs: (String, String)*)(body: => A): A = {
    val set = spark.conf.getAll
    val prior = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  override protected def afterAll(): Unit = {
    try super.afterAll()
    finally {
      val after = spark.conf.getAll
      val leaked = (confBefore.keySet ++ after.keySet).toSeq.sorted
        .filter(k => confBefore.get(k) != after.get(k))
        .filterNot(k => confBefore.get(k).isEmpty && after.get(k) == setOnRead.get(k))
        .map(k => s"$k: ${confBefore.getOrElse(k, "<unset>")} -> ${after.getOrElse(k, "<unset>")}")
      assert(leaked.isEmpty, s"${getClass.getSimpleName} left the session conf changed: " +
        leaked.mkString("; "))
    }
  }
}
