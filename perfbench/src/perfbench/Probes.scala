package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.perfbench.Probe

/** Layer probes for traced runs: each operator's or kernel's plan
  * executed to a `noop` sink, so its cost is measured apart from the
  * writes and collects that drive it in the timed phase.
  */
object Probes {
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Execute each operator's output once; seconds and rows in/out per name. */
  def execAll(rowsIn: Long, ops: Seq[(String, () => DataFrame)]): Map[String, Any] =
    ops.map { case (name, mk) =>
      val s = Probe.span(s"$name.exec", "probe") { Main.timeS(noop(mk())) }
      name -> Map("exec_s" -> s, "rows_in" -> rowsIn, "rows_out" -> mk().count())
    }.toMap

  /** Rows per second of a compiled kernel over `rows` input rows:
    * median of three executions of `df` to a noop sink.
    */
  def kernel(name: String, rows: Long, df: DataFrame): Map[String, Any] = {
    val times = (1 to 3).map(_ => Probe.span(name, "probe") { Main.timeS(noop(df)) })
    val s = Main.median(times)
    Map("rows" -> rows, "median_s" -> s, "rows_per_s" -> rows / s)
  }
}
