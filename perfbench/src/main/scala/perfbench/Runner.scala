package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Pinned-block reading taken after an operation, before its release. */
final case class Pinned(opId: Int, rdds: Int, bytes: Long)

/** Runs operations one at a time (a closed loop with one client) and
  * records a span per operation and per phase. Between operations it
  * releases every persisted RDD, as `graft.Bench` does, so one
  * operation's `localCheckpoint` blocks never tax the next. */
final class Runner(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = ArrayBuffer[Span]()
  val failures = ArrayBuffer[(Int, String, String)]() // (pass, op, error)
  val pinned = ArrayBuffer[Pinned]()
  /** Read pinned blocks after each operation (traced passes only). */
  var readPinned = false
  private var nextId = 0

  private def span[T](name: String, parent: Int, opId: Int, pass: Int,
      op: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally spans += Span(id, name, parent, opId, pass, op, startMs, t0, System.nanoTime())
  }

  /** One operation; returns false when it threw. */
  def run(pass: Int, op: Op): Boolean = {
    val opId = nextId
    sc.setLocalProperty(Trace.OpKey, opId.toString)
    try span("op", -1, opId, pass, op.name) {
      sc.setLocalProperty(Trace.PhaseKey, "build")
      val df = span("build", opId, opId, pass, op.name)(op.build())
      val phase = if (op.kind == Op.Load) "sink" else "exec"
      sc.setLocalProperty(Trace.PhaseKey, phase)
      span(phase, opId, opId, pass, op.name)(op.finish(df))
      true
    } catch {
      case NonFatal(e) =>
        failures += ((pass, op.name, s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        false
    } finally {
      if (readPinned) {
        val info = sc.getRDDStorageInfo
        pinned += Pinned(opId, sc.getPersistentRDDs.size,
          info.map(i => i.memSize + i.diskSize).sum)
      }
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      sc.setLocalProperty(Trace.OpKey, null)
      sc.setLocalProperty(Trace.PhaseKey, null)
    }
  }

  def pass(index: Int, ops: Seq[Op]): Unit = ops.foreach(run(index, _))
}
