package graft.ops

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}

/** The ops layer's one materialization barrier. With a checkpoint dir on
  * the context it is a RELIABLE checkpoint (survives a lost executor);
  * without one it keeps executor-local blocks, whose loss fails the next
  * read with Spark's CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, never a wrong
  * answer. An observed metric that never arrives fails by name after
  * [[MetricTimeout]] instead of hanging. */
object Barrier {

  /** The wait starts after the firing action has returned, so it only
    * covers listener-bus delivery (normally milliseconds). */
  val MetricTimeout: FiniteDuration = 30.seconds

  def apply(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** `df` with `metrics` attached, and a reader that returns them (one
    * column each) once an action has run the frame. */
  def observe(df: DataFrame, barrier: String, metrics: Column*): (DataFrame, () => Row) = {
    val obs = Observation()
    val read = () => try Await.result(obs.future, MetricTimeout) catch {
      case _: java.util.concurrent.TimeoutException => throw new IllegalStateException(
        s"barrier '$barrier': observed metric ${metrics.mkString(", ")} " +
          s"did not arrive within $MetricTimeout")
    }
    (df.observe(obs, metrics.head, metrics.tail: _*), read)
  }

  /** `Barrier(df)` with `metrics` computed by the same action. */
  def observed(df: DataFrame, barrier: String, metrics: Column*): (DataFrame, Row) = {
    val (watched, read) = observe(df, barrier, metrics: _*)
    (apply(watched), read()) // left to right: the barrier's action fires the metrics
  }
}
