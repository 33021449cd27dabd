package graftbench

import org.apache.spark.sql.SparkSession

/** Self-test of the tracer's schema-inference count (run by
  * `perfbench/selftest.py`): one traced span writes a parquet store and
  * reads it back without a schema.  Both jobs carry a "parquet at" call-site
  * name, but only the read's schema inference runs outside a SQL execution,
  * so the span must count exactly one schema-inference job.
  *
  * Arguments: a scratch directory and the file to write the counts to. */
object TraceSelfTest {
  def main(args: Array[String]): Unit = {
    val Array(dir, out) = args
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graftbench-selftest")
      .config("spark.driver.host", "localhost")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark)
    tracer.install()
    val span = tracer.open("sources", "selftest", 1)
    spark.range(1000).write.parquet(s"$dir/t.parquet")
    spark.read.parquet(s"$dir/t.parquet")
    tracer.close(span)
    tracer.uninstall()
    val m = tracer.summarize(1)
    spark.stop()
    val w = new java.io.PrintWriter(out)
    try w.println(s"""{"schema_jobs":${m.getOrElse("sources.schema_jobs", 0.0)},"jobs":${m("trace.jobs")}}""")
    finally w.close()
  }
}
