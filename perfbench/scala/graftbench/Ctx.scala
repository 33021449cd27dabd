package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one pass of a workload sees: the session, the generated inputs, a
  * fresh per-pass directory, and the span recorder.  Every call into graft
  * goes through [[op]], [[eager]] or [[group]], so each is timed as a span of
  * its layer when tracing is on.
  *
  * In the warm-up pass (`sink` set) every output is also written to the
  * sink as parquet for the correctness check: a counted output after its
  * count, a written one in place of the pass-directory copy. */
final class Ctx(val spark: SparkSession, val data: String, val passDir: String,
    val pass: Int, tracer: Option[Tracer], sink: Option[String]) {

  /** Operations run (each [[op]] and [[eager]] call). */
  var ops = 0

  def path(name: String): String = s"$data/$name"

  private def spanned[T](layer: String, call: String)(body: Option[Span] => T): T =
    tracer match {
      case None => body(None)
      case Some(t) =>
        val s = t.open(layer, call, pass)
        try body(Some(s)) finally t.close(s)
    }

  /** A span that only groups other calls (its self time is the part no
    * child covers). */
  def group[T](layer: String, call: String)(body: => T): T = spanned(layer, call)(_ => body)

  /** A public call whose result is not a DataFrame to materialize: all of
    * its work is eager. */
  def eager[T](layer: String, call: String)(body: => T): T = {
    ops += 1
    spanned(layer, call)(_ => body)
  }

  /** A public call returning a DataFrame, then the materialization of that
    * frame: `toRdd.count` (as graft.Bench does), or a parquet write to the
    * pass directory when the workload's output is a written split. */
  def op(layer: String, call: String, out: String, write: Boolean = false)(
      build: => DataFrame): Unit = {
    ops += 1
    spanned(layer, call) { span =>
      val df = build
      span.foreach(_.buildEnd = System.currentTimeMillis())
      if (write) df.write.mode("overwrite").parquet(s"${sink.getOrElse(s"$passDir/out")}/$out.parquet")
      else {
        val rows = df.queryExecution.toRdd.count()
        tracer.foreach(_.recordQuery(df.queryExecution, rows))
        sink.foreach(dir => df.write.mode("overwrite").parquet(s"$dir/$out.parquet"))
      }
    }
  }
}
