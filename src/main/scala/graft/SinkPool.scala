package graft

import java.util.concurrent.{CompletionException, Executors}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import scala.concurrent.{ExecutionContext, Future}
import scala.jdk.FutureConverters._

/** Runs the sink writes a micro-batch overlaps with its own main
  * write. A write submitted here runs under the Spark local properties
  * (job group, job description, SQL execution id) and active session
  * of the thread that submitted it, captured at submission, so its
  * jobs belong to the query that issued them and that query's stop()
  * cancels them. A shared pool's worker threads instead keep the local
  * properties they inherited from whichever thread created them. */
object SinkPool {

  private lazy val pool = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-sink-write")
    t.setDaemon(true)
    t
  }

  def submit[T](spark: SparkSession)(body: => T): Future[T] =
    SQLExecution.withThreadLocalCaptured(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
        pool)(body)
      .asScala
      .transform(identity, {
        case e: CompletionException if e.getCause != null => e.getCause
        case e => e
      })(ExecutionContext.parasitic)
}
