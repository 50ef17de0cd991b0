package graft.pipeline

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.index.IndexStore

/** Build-job tracking — the reference's upload/job surface
  * (`app/api/files.py:12-60`: POST /upload queues a pipeline run under a
  * job id; GET /status/{job_id} returns its status row; progress streams
  * over SSE).
  *
  * The Spark analogue keeps the same lifecycle (`queued → running → done |
  * error`) in a driver-side registry: the driver is the single submission
  * point (the FastAPI process of this architecture), so job state is
  * driver state — nothing here touches executors. Progress events ride
  * the [[BuildProgress]] listener exactly as the reference rides its SSE
  * bus, appended to the job's event log.
  *
  * Synchronous by design: `submit` runs the build on the calling thread
  * and returns when it finishes (callers wanting reference-style async
  * wrap it in their own executor — threading policy belongs to the host
  * app, not the library). The registry still records every transition, so
  * a concurrent observer polling [[status]] sees the same states the
  * reference's status endpoint serves.
  */
object Jobs {

  sealed trait State
  case object Queued extends State
  case object Running extends State
  case object Done extends State
  final case class Failed(message: String) extends State

  final case class Job(
      id: String,
      indexName: String,
      state: State,
      events: Seq[String])

  private val jobs = new ConcurrentHashMap[String, Job]()
  private val counter = new java.util.concurrent.atomic.AtomicLong(0L)

  private def update(id: String)(f: Job => Job): Unit =
    jobs.computeIfPresent(id, (_, j) => f(j))

  /** Run a tracked build; returns (jobId, manifest on success). The job id
    * is registry-unique per driver (the reference uses a uuid; a counter
    * is deterministic for specs).
    */
  def submit(docs: DataFrame, root: String, cfg: IndexPipeline.Config): (String, IndexStore.Manifest) = {
    val id = s"job-${counter.incrementAndGet()}"
    jobs.put(id, Job(id, cfg.name, Queued, Vector.empty))
    update(id)(_.copy(state = Running))
    try {
      val m = IndexPipeline.buildWithProgress(docs, root, cfg,
        ev => update(id)(j => j.copy(events = j.events :+ ev)), jobId = id)
      update(id)(_.copy(state = Done))
      (id, m)
    } catch {
      case e: Throwable =>
        update(id)(_.copy(state = Failed(String.valueOf(e.getMessage))))
        throw e
    }
  }

  /** The reference's GET /status/{job_id}: None = unknown job (its 404). */
  def status(id: String): Option[Job] = Option(jobs.get(id))

  /** All jobs, newest first — the jobs table view. */
  def all(): Seq[Job] =
    jobs.values().asScala.toSeq.sortBy(_.id)(Ordering[String].reverse)
}
