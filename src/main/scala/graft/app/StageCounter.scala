package graft.app

import org.apache.spark.sql.{Dataset, Observation}
import org.apache.spark.sql.functions.{count, lit}
import scala.collection.concurrent.TrieMap
import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration._

/** A run's stage row counts: each an `Observation` on a frame that an
  * action the run needs anyway executes exactly once, never a count() of
  * its own (an observed frame read through `.rdd` counts 0). Thread-safe. */
final class StageCounter {
  private val observations = TrieMap.empty[String, Observation]

  def observed[T](ds: Dataset[T], stage: String): Dataset[T] = {
    val o = Observation()
    observations(stage) = o
    ds.observe(o, count(lit(1)).as("n"))
  }

  /** Spark completes an Observation from its listener bus just after its
    * action, so a read whose action never ran fails in seconds, naming the stage. */
  def countOf(stage: String): Long =
    try Await.result(observations(stage).future, 10.seconds).getAs[Long]("n")
    catch { case e: TimeoutException => throw new IllegalStateException(
      s"stage '$stage': row count not observed within 10 s; no action ran its frame", e) }
}
