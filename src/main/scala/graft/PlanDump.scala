package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dev tool (round 17 optimization): dump each query's
  * `explain("formatted")` plan AND its post-execution (AQE-final)
  * physical plan to <dir>/<query>_<suffix>.txt, where <dir> is
  * SPARK_GRAFT_PLANS_DIR (default plans/r18) — the evidence files for
  * plan-shape claims such as OPTIMIZATION_r17.md's and
  * OPTIMIZATION_r18.md's.
  *
  * args: <suffix> [sf dir] [query names...]
  *   suffix: "before" / "after" (file name suffix)
  *   sf dir: optional absolute path (default /root/testdata/sf0.1)
  *   names: optional query-name filter (default: all, sorted by
  *          name; an unknown name is refused before any dump)
  *
  * Runs on the bench's own session (`GraftSession`) so the captured
  * plans are the plans the bench actually executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanDump <suffix> [sfdir] [names...]")
    val suffix = args.head
    val rest = args.tail
    val dir = rest.find(_.startsWith("/")).getOrElse("/root/testdata/sf0.1")
    val selected = SparkEntry.select(rest.filterNot(_.startsWith("/")).toSeq)
    val spark = GraftSession.build()
    val out = Paths.get(sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r18"))
    Files.createDirectories(out)
    // the noop write runs its own QueryExecution (not the DataFrame's),
    // so the AQE-final plan must be captured from the execution
    // listener — df.queryExecution after the write still holds the
    // UNEXECUTED (isFinalPlan=false) plan
    val lastPlan = new java.util.concurrent.atomic.AtomicReference[String]("")
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        lastPlan.set(qe.executedPlan.toString)
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    })
    for ((q, fn) <- selected) {
      val df = fn(spark, dir)
      val formatted = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      // execute through the bench's own sink so the AQE-final plan is
      // the one the bench times
      lastPlan.set("")
      df.write.format("noop").mode("overwrite").save()
      // listener events are posted asynchronously — wait for the plan
      var tries = 0
      while (lastPlan.get().isEmpty && tries < 100) { Thread.sleep(50); tries += 1 }
      val fin = lastPlan.get()
      val body =
        s"===== $q ($suffix, sf=$dir) =====\n\n" +
          "----- explain(formatted), pre-execution -----\n" + formatted +
          "\n----- executedPlan after noop write (AQE final) -----\n" + fin + "\n"
      Files.write(out.resolve(s"${q}_$suffix.txt"), body.getBytes("UTF-8"))
      System.err.println(s"[plandump] wrote $q")
    }
    spark.stop()
  }
}
