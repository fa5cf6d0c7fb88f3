package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One timed operation of a workload: named spans run back to back on
  * the single client thread. Every span runs under its own Spark job
  * group (`<op id>.<span>`), so each job names the operation that
  * launched it; in a traced pass each span closes with a listener drain
  * and keeps the [[Epoch]] it produced.
  */
final class Op(val id: Int, val name: String, val pass: Int,
               val traced: Boolean) {
  val spans = mutable.ArrayBuffer.empty[(String, Double)]
  val epochs = mutable.ArrayBuffer.empty[(String, Iv, Epoch)]
  var rows = 0L
  val attrs = mutable.LinkedHashMap.empty[String, Any]
  var error: Option[String] = None
  var compiles = 0L
  var compileNs = 0L
  var drainNs = 0L
}

final class Recorder(spark: SparkSession, tracer: Option[Tracer]) {
  val ops = mutable.ArrayBuffer.empty[Op]
  private var cur: Op = _

  private def compileCount: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `body` as one op; an exception marks the op failed and the
    * workload continues with the next op.
    */
  def op(name: String, pass: Int, traced: Boolean)(body: => Unit): Op = {
    val o = new Op(ops.size, name, pass, traced && tracer.isDefined)
    ops += o
    cur = o
    val c0 = compileCount
    val n0 = CodeGenerator.compileTime
    try body catch {
      case e: Throwable =>
        o.error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(300))
        System.err.println(s"[perfbench] op ${o.name} failed: ${o.error.get}")
    } finally {
      spark.sparkContext.clearJobGroup()
      o.compiles = compileCount - c0
      o.compileNs = CodeGenerator.compileTime - n0
      cur = null
    }
    o
  }

  def span[A](name: String)(f: => A): A = {
    val o = cur
    spark.sparkContext.setJobGroup(s"op${o.id}.$name", s"${o.name} $name")
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try f finally {
      val n1 = System.nanoTime()
      val t1 = System.currentTimeMillis()
      o.spans += name -> (n1 - n0) / 1e9
      if (o.traced) tracer.foreach { t =>
        o.epochs += ((name, Iv(t0, t1), t.take()))
        o.drainNs += System.nanoTime() - n1
      }
    }
  }

  def rows(n: Long): Unit = cur.rows += n
  def attr(k: String, v: Any): Unit = cur.attrs(k) = v
}
