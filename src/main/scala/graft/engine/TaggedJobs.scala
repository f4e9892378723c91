package graft.engine

import java.util.concurrent.LinkedBlockingQueue

import org.apache.spark.SparkContext

/** Independent Spark actions run concurrently from the driver: each body on
  * its own thread, under its own Spark job TAG, so the first failure can
  * cancel the others' jobs instead of waiting for them to finish.
  *
  * Tags, not job groups: a new thread inherits its parent's local
  * properties, including a job group (a streaming query's, for one).
  * Setting a group here would replace it, and cancelling that group would
  * no longer reach these jobs; a tag is added beside it.
  */
private[graft] object TaggedJobs {

  /** One body running on its own daemon thread under its own job tag. */
  final class Running[A] private[TaggedJobs] (
      sc: SparkContext, private[TaggedJobs] val label: String, body: () => A,
      onExit: Running[A] => Unit) {

    private val tag =
      s"sodspark-${label.replaceAll("[^A-Za-z0-9_]", "-")}-${java.util.UUID.randomUUID()}"

    @volatile private var outcome: Either[Throwable, A] = _

    private val thread = new Thread(() => {
      sc.addJobTag(tag)
      outcome = try Right(body()) catch { case e: Throwable => Left(e) }
      onExit(this)
    }, tag)
    thread.setDaemon(true)
    thread.start()

    /** Cancel the body's Spark jobs and wait for its thread to exit. */
    def cancelAndJoin(): Unit = TaggedJobs.cancelAndJoin(Seq(this))

    private[TaggedJobs] def cancel(): Unit = sc.cancelJobsWithTag(tag)
    private[TaggedJobs] def alive: Boolean = thread.isAlive
    private[TaggedJobs] def join(ms: Long): Unit = thread.join(ms)

    /** Wait for the body: its failure, if any. */
    def failure(): Option[Throwable] = {
      thread.join()
      outcome.left.toOption
    }

    /** Wait for the body: its result, or its failure rethrown as the cause
      * of an error naming the label.
      */
    def await(): A = {
      failure().foreach(e => throw failed(label, e))
      outcome.toOption.get
    }
  }

  private def failed(label: String, e: Throwable) =
    new RuntimeException(
      s"$label failed: ${e.getClass.getSimpleName}: ${e.getMessage}", e)

  /** Cancel until every thread has exited: a cancel only reaches active
    * jobs, and a body may submit its next job after one.
    */
  private def cancelAndJoin(rs: Seq[Running[_]]): Unit =
    while (rs.exists(_.alive)) {
      rs.foreach(_.cancel())
      rs.foreach(_.join(50))
    }

  /** Start `body` on its own thread under its own job tag. */
  def start[A](sc: SparkContext, label: String)(body: => A): Running[A] =
    new Running[A](sc, label, () => body, _ => ())

  /** Run every (label, body) concurrently; results in input order. The
    * first failure cancels the other bodies' jobs, joins every thread and is
    * rethrown as the cause of an error naming its label.
    */
  def runAll[A](sc: SparkContext, bodies: Seq[(String, () => A)]): Seq[A] = {
    val exited = new LinkedBlockingQueue[Running[A]]()
    val running = bodies.map { case (label, body) =>
      new Running[A](sc, label, body, exited.put)
    }
    var firstFailure = Option.empty[(Running[A], Throwable)]
    var left = running.size
    while (left > 0 && firstFailure.isEmpty) {
      val r = exited.take()
      left -= 1
      firstFailure = r.failure().map(r -> _)
    }
    firstFailure.foreach { case (r, e) =>
      cancelAndJoin(running.filterNot(_ eq r))
      throw failed(r.label, e)
    }
    running.map(_.await())
  }
}
