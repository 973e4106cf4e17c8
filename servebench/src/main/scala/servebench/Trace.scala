package servebench

import graft.model.MetadataEntry
import graft.serve.{Auth, CascadeDeleter, Notification, Notifier}
import graft.store.MetadataStore
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Dataset, SparkSession}

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call into a layer. `replay` marks calls the benchmark made
  * itself after a request; the rest ran inside the server's request path.
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long,
                      req: Long, replay: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder, timed from outside the program: around the
  * benchmark's own seams (verifier, notifier, cascade deleter, store
  * subclass) and around its direct calls into each module. Off by default;
  * when off a span is a plain call.
  */
object Trace {
  @volatile var on = false
  /** Request in flight; with one client every span belongs to it. */
  @volatile var request = 0L
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val replaying = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val counts = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()
  private val samples = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try f
      finally {
        val s = Span(id, parent, name, t0, System.nanoTime(), request, replaying.get)
        stack.set(stack.get.tail)
        buf.synchronized { buf += s }
      }
    }

  def inReplay: Boolean = replaying.get

  /** Runs `f` as the benchmark's own replay of the current request. */
  def replay[A](f: => A): A = {
    replaying.set(true)
    try f finally replaying.set(false)
  }

  def count(name: String): Unit =
    if (on) counts.computeIfAbsent(name, _ => new LongAdder).increment()

  /** Records one observation of a per-call quantity. */
  def sample(name: String, v: Double): Unit =
    if (on) samples.synchronized { samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v; () }

  def samplesOf(name: String): Seq[Double] = samples.synchronized(samples.get(name).fold(Seq.empty[Double])(_.toSeq))

  def counter(name: String): Long = Option(counts.get(name)).fold(0L)(_.sum)
  def spans: Seq[Span] = buf.synchronized(buf.toSeq)

  def reset(): Unit = {
    buf.synchronized(buf.clear()); counts.clear(); samples.synchronized(samples.clear())
  }

  /** Spans as tab-separated lines: id, parent, name, start, end, request, replay. */
  def dump(path: Path): Unit =
    Files.write(path, spans.map(s =>
      s"${s.id}\t${s.parent}\t${s.name}\t${s.startNs}\t${s.endNs}\t${s.req}\t${s.replay}")
      .mkString("", "\n", "\n").getBytes)
}

/** The catalog's store with every public method the serve path uses timed.
  * Calls these make to `get` dispatch here too, so those spans nest.
  */
final class TracedStore(spark: SparkSession, root: String) extends MetadataStore(spark, root) {
  private val rootPath = Paths.get(root)

  /** Deltas in the read window: delta segments above the newest base. */
  def readSegments(): Int = {
    val names = Files.list(rootPath)
    try {
      val vs = names.iterator().asScala.map(_.getFileName.toString).toSeq
      def versions(p: String) = vs.filter(_.startsWith(p)).map(_.stripPrefix(p).toLong)
      val base = versions("base-").maxOption.getOrElse(0L)
      versions("delta-").count(_ > base)
    } finally names.close()
  }

  override def current: Dataset[MetadataEntry] = {
    if (Trace.on && !Trace.inReplay) Trace.sample("store.read_segments", readSegments())
    Trace.span("store.current")(super.current)
  }
  override def get(id: String): Option[MetadataEntry] = Trace.span("store.get")(super.get(id))
  override def upsert(entry: MetadataEntry): Boolean = Trace.span("store.upsert")(super.upsert(entry))
  override def partialUpdate(id: String, fields: Map[String, Any]): Boolean =
    Trace.span("store.partialUpdate")(super.partialUpdate(id, fields))
  override def delete(id: String): Boolean = Trace.span("store.delete")(super.delete(id))
  override def maybeCompact(threshold: Int): Boolean =
    Trace.span("store.maybeCompact")(super.maybeCompact(threshold))
  override def compact(): Unit = Trace.span("store.compact")(super.compact())
  override def bulkLoad(entries: Dataset[MetadataEntry]): Dataset[MetadataEntry] =
    Trace.span("store.bulkLoad")(super.bulkLoad(entries))
}

/** Notifier seam: counts, while tracing, every notification published. */
object CountingNotifier extends Notifier {
  protected val clock: () => Long = () => System.currentTimeMillis()
  protected def publish(n: Notification): Unit = Trace.count("serve.notify")
}

/** Cascade seam: counts, while tracing, every cascade; both targets succeed. */
object CountingCascade extends CascadeDeleter {
  def cascade(entry: MetadataEntry): (Boolean, Boolean) = { Trace.count("serve.cascade"); (true, true) }
  def dropPublicView(entry: MetadataEntry): Boolean = entry.isPublic
}

/** Token verification for the benchmark's users: the token names the user. */
object BenchVerifier extends Auth.TokenVerifier {
  def verify(token: String): Auth.TokenPayload = Trace.span("serve.auth") {
    Users.byToken(token) match {
      case Some(u) => Auth.TokenPayload(u.token, if (u.admin) Set("console.admin") else Set("openid"))
      case None => throw new Auth.UnauthorizedException(s"unknown token")
    }
  }
  def orgsOf(p: Auth.TokenPayload): Seq[String] = Users.byToken(p.userId).fold(Seq.empty[String])(_.orgs)
}

/** Spark job, stage and task totals. Jobs submitted while the local
  * property `servebench.replay` is set are also summed per replay.
  */
final class ExecListener extends SparkListener {
  final class Totals {
    var jobs, stages, tasks, failed = 0L
    var jobWallMs, taskCpuNs, shuffleBytes, inputRecords = 0L
  }
  val all = new Totals
  val replay = new Totals
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val replayJobs = mutable.HashSet.empty[Int]
  private val replayStages = mutable.HashSet.empty[Int]

  private def both(stage: Int)(f: Totals => Unit): Unit = {
    f(all); if (replayStages(stage)) f(replay)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    val isReplay = Option(e.properties).exists(_.getProperty(ExecListener.Key) != null)
    if (isReplay) { replayJobs += e.jobId; replayStages ++= e.stageIds }
    all.jobs += 1
    if (isReplay) replay.jobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val wall = e.time - jobStart.remove(e.jobId).getOrElse(e.time)
    val failed = e.jobResult != JobSucceeded
    all.jobWallMs += wall
    if (failed) all.failed += 1
    if (replayJobs.remove(e.jobId)) {
      replay.jobWallMs += wall
      if (failed) replay.failed += 1
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    both(e.stageInfo.stageId)(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    both(e.stageId) { t =>
      t.tasks += 1
      if (e.taskInfo != null && e.taskInfo.failed) t.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        t.taskCpuNs += m.executorCpuTime
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        t.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }
}

object ExecListener { val Key = "servebench.replay" }
