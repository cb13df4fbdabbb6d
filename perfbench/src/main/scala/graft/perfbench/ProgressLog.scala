package graft.perfbench

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Appends every micro-batch progress (as Spark's JSON) to the file named by
  * the `perfbench.progress` system property. The benchmark installs it in
  * the engine child through Spark's `spark.sql.streaming.streamingQueryListeners`
  * setting, so the child runs unmodified engine code. */
final class ProgressLog extends StreamingQueryListener {
  private val out = sys.props.get("perfbench.progress").map { p =>
    new java.io.PrintWriter(new java.io.FileWriter(p, true), true)
  }
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    out.foreach(_.println(e.progress.json.replace('\n', ' ')))
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
