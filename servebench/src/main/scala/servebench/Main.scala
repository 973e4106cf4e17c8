package servebench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.Corpus
import graft.compile.QueryCompiler
import graft.exec.SearchExecutor
import graft.model.MetadataEntry
import graft.serve.{CatalogService, HttpCatalog}
import org.apache.spark.ListenerDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The serve-path benchmark: builds the catalog, serves it through
  * HttpCatalog on loopback, drives a seeded closed-loop request mix and
  * checks every response against the benchmark's model. Writes one JSON
  * document ({"record", "result"}) to `--out`; prints nothing else that
  * matters, so log lines cannot corrupt the result.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *             --work DIR --out FILE
  */
object Main {
  /** Setups per run; setup_s is the session start plus their median. */
  val SetupRepeats = 3
  /** Requests generated per run; more than a run can send. */
  val Generated = 1000
  /** The warm-up is a number of requests, so a slow host does not start
    * the window less warm; this caps its time.
    */
  val WarmupCapSeconds = 30.0
  /** Reads sent to the served store before its window opens. */
  val SettleRequests = 2

  final case class Args(workload: Workload, seed: Long, seconds: Int, trace: Boolean,
                        data: String, work: Path, out: Path)

  def parseArgs(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(Workload.byName(need("workload")).getOrElse(
        throw new IllegalArgumentException(s"unknown workload ${need("workload")}")),
      need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("data"), Paths.get(need("work")), Paths.get(need("out")))
  }

  private def now: Long = System.nanoTime()
  private def secs(t0: Long): Double = (now - t0) / 1e9

  def loadavg: Double =
    scala.util.Try(Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble).getOrElse(-1.0)

  def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally s.close()
    }

  /** Harrell–Davis estimate of the q-quantile (q in (0, 1)), used for
    * request latencies; NaN when empty. It weights every order statistic by
    * a Beta(q(n+1), (1-q)(n+1)) interval instead of picking one, so a small
    * sample drawn from several request classes gives a p50 that does not
    * jump between them.
    */
  def latencyQuantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(q * (n + 1), (1 - q) * (n + 1))
      s.indices.map(i => s(i) * (beta.cumulativeProbability((i + 1.0) / n) -
        beta.cumulativeProbability(i.toDouble / n))).sum
    }
  /** The sample median; NaN when empty. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** Each corpus row as `copies` entries with distinct ids (id + copy digit). */
  def expand(corpus: DataFrame, copies: Int): DataFrame =
    if (copies == 1) corpus
    else corpus.crossJoin(corpus.sparkSession.range(copies).withColumnRenamed("id", "_copy"))
      .withColumn("id", concat(col("id"), col("_copy").cast("string"))).drop("_copy")

  /** One setup: the served catalog and how long its steps took. */
  final case class Setup(store: TracedStore, service: CatalogService, http: HttpCatalog,
                         port: Int, totalS: Double, bulkLoadS: Double, compactS: Double)

  /** Corpus build, bulk load, compaction and server bind into `dir`. */
  def setUp(spark: SparkSession, a: Args, dir: Path): Setup = {
    val t0 = now
    val store = new TracedStore(spark, dir.toString)
    val tl = now
    store.bulkLoad(expand(Corpus.metadata(spark, a.data), a.workload.copies)
      .as(org.apache.spark.sql.Encoders.product[MetadataEntry]))
    val loadS = secs(tl)
    val tc = now
    store.compact()
    val compactS = secs(tc)
    val service = new CatalogService(spark, store, CountingNotifier, CountingCascade)
    val http = new HttpCatalog(service, BenchVerifier, BenchVerifier.orgsOf)
    val port = http.start()
    Setup(store, service, http, port, secs(t0), loadS, compactS)
  }

  /** Any error exits non-zero: the catalog's pool threads would otherwise
    * keep the JVM alive.
    */
  def main(argv: Array[String]): Unit =
    try run(parseArgs(argv))
    catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }

  def run(a: Args): Unit = {
    val w = a.workload
    val nproc = Runtime.getRuntime.availableProcessors()
    val clients = if (a.trace) 1 else w.clients(nproc)
    val loadStart = loadavg
    Files.createDirectories(a.work)

    val t0 = now
    val master = s"local[$nproc]"
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new ExecListener
    spark.sparkContext.addSparkListener(listener)
    val sessionS = secs(t0)

    import spark.implicits._
    val entries = expand(Corpus.metadata(spark, a.data), w.copies).as[MetadataEntry].collect()
    val model = new Model(entries)
    val entriesStart = model.size
    val reqs = Workload.generate(w, a.seed, model, Generated)
    val warmReqs = Workload.generate(w, ~a.seed, model, w.warmRequests)
    val settleReqs = Workload.generate(Workload.warmup, a.seed ^ 0x5eed, model, SettleRequests)
    val digest = Req.digest(warmReqs ++ settleReqs ++ reqs)

    // The first setup also pays the JVM's and Spark's first-use costs; the
    // median of several is the set-up time, and the last one is served.
    // Warm-up runs the workload's own mix, from a list of its own, against
    // the setup before the last, which is then thrown away: writes warm up
    // too, and the served store is untouched when the window opens.
    var warm: Phase = null
    val setups = (1 to SetupRepeats).map { i =>
      val s = setUp(spark, a, a.work.resolve(s"store-$i"))
      if (i == SetupRepeats - 1)
        warm = new ClosedLoop(s.port, new Checker(new Model(entries)))
          .run(warmReqs, w.warmClients(nproc), WarmupCapSeconds)
      if (i < SetupRepeats) { s.http.stop(); deleteTree(a.work.resolve(s"store-$i")) }
      s
    }
    val served = setups.last
    val storeDir = a.work.resolve(s"store-$SetupRepeats")
    val setupS = sessionS + median(setups.map(_.totalS))
    val storeBytesStart = dirBytes(storeDir)
    val checker = new Checker(model)

    // Two reads on the served store settle its first-read costs; reads
    // leave the store as it is.
    val settle = new ClosedLoop(served.port, checker).run(settleReqs, 1, WarmupCapSeconds)
    val loop = new ClosedLoop(served.port, checker)

    val result: ObjectNode =
      if (!a.trace) {
        val p = loop.run(reqs, clients, a.seconds)
        endToEnd(p, setupS, dirBytes(storeDir) / model.size.toDouble, heapLiveMb())
      } else traced(spark, a, served, storeDir, model, reqs, loop, listener, setups)
    result.put("warmup_failed", warm.failed + settle.failed)

    served.http.stop()
    spark.stop()

    val record = mapper.createObjectNode()
    record.put("workload", w.name)
    record.put("seed", a.seed)
    record.put("seconds", a.seconds)
    record.put("trace", a.trace)
    record.put("requests_digest", digest)
    record.put("requests_sent", loop.consumed)
    record.put("nproc", nproc)
    record.put("clients", clients)
    record.put("spark_master", master)
    record.put("entries", entriesStart)
    record.put("entries_end", model.size)
    record.put("store_bytes_start", storeBytesStart)
    record.put("loadavg_start", loadStart)
    record.put("loadavg_end", loadavg)
    record.put("jvm_version", System.getProperty("java.vm.version"))
    record.put("session_start_s", sessionS)
    val st = record.putArray("setup_samples_s")
    setups.foreach(s => st.add(s.totalS))
    record.put("warmup_clients", w.warmClients(nproc))
    record.put("warmup_s", warm.elapsedS)
    record.put("warmup_requests", warm.attempted)
    record.put("settle_requests", settle.attempted)
    record.put("warmup_failed", warm.failed + settle.failed)
    val doc = mapper.createObjectNode()
    doc.set("record", record)
    doc.set("result", result)
    Files.writeString(a.out, mapper.writeValueAsString(doc))
    sys.exit(0)
  }

  def heapLiveMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private val mapper = new ObjectMapper()

  private def metricsNode(result: ObjectNode): ObjectNode = result.putObject("metrics")
  private def put(m: ObjectNode, name: String, value: Double, unit: String): Unit = {
    val n = m.putObject(name)
    n.put("value", if (value.isNaN || value.isInfinite) 0.0 else value)
    n.put("unit", unit)
  }

  private def resultNode(attempted: Int, failed: Int): ObjectNode = {
    val r = mapper.createObjectNode()
    r.put("attempted", attempted)
    r.put("failed", failed)
    r
  }

  /** Per-class latency percentiles for the run record; p90 only where the
    * class has at least 100 samples.
    */
  def byClass(p: Phase): ObjectNode = {
    val n = mapper.createObjectNode()
    Seq("search", "get", "count", "write", "probe").foreach { c =>
      val xs = p.latenciesMs(c)
      val o = n.putObject(c)
      o.put("n", p.samples.count(_.cls == c))
      if (xs.nonEmpty) o.put("p50_ms", latencyQuantile(xs, 0.5))
      if (xs.size >= 100) o.put("p90_ms", latencyQuantile(xs, 0.9))
    }
    n
  }

  /** Latencies of the requests the mix is about: all but the probes. */
  def mixLatenciesMs(p: Phase): Seq[Double] =
    p.samples.filter(s => s.cls != "probe" && !s.failed).map(_.latencyNs / 1e6)

  def endToEnd(p: Phase, setupS: Double, bytesPerEntry: Double, heapMb: Double): ObjectNode = {
    val r = resultNode(p.attempted, p.failed)
    val m = metricsNode(r)
    put(m, "setup_s", setupS, "s")
    put(m, "throughput_rps", p.attempted / p.elapsedS, "req/s")
    put(m, "latency_p50_ms", latencyQuantile(mixLatenciesMs(p), 0.5), "ms")
    put(m, "store_bytes_per_entry", bytesPerEntry, "B")
    put(m, "heap_live_mb", heapMb, "MB")
    r.set("by_class", byClass(p))
    r
  }

  /** The traced run: one client; a fixed pseudo-random half of the
    * requests run traced, and after each traced read the benchmark replays
    * it through direct module calls. The other half is the untraced
    * baseline for `trace.overhead_frac` and `jvm.gc_ms_per_req`.
    */
  def traced(spark: SparkSession, a: Args, served: Setup, storeDir: Path, model: Model,
             reqs: Vector[Req], loop: ClosedLoop, listener: ExecListener,
             setups: Seq[Setup]): ObjectNode = {
    val sc = spark.sparkContext
    val store = served.store
    val service = served.service
    val isTraced = { val r = new scala.util.Random(7); Vector.fill(reqs.size)(r.nextBoolean()) }
    val writes = mutable.HashSet.empty[Long]
    var deletes, searches, hits, gcMs, gcReqs, bytesWritten = 0L
    var gc0, bytes0 = 0L
    Trace.reset()
    def transport(latNs: Long)(direct: => Any): Unit = {
      val t = now
      Trace.replay(direct)
      Trace.sample("serve.transport_ms", (latNs - (now - t)) / 1e6)
    }
    val window = loop.run(reqs, 1, a.seconds, before = i => {
      Trace.on = isTraced(i)
      gc0 = gcMillis
      if (Trace.on && reqs(i).cls == "write") bytes0 = dirBytes(storeDir)
    }, after = (i, r, latNs, ok) => {
      if (!isTraced(i)) { gcMs += gcMillis - gc0; gcReqs += 1 }
      else {
        if (ok && r.cls == "write") { writes += i.toLong; bytesWritten += dirBytes(storeDir) - bytes0 }
        if (ok) r.op match {
          case _: DeleteOp => deletes += 1
          case op @ SearchOp(_, _, _, q) =>
            Checker.aclFor(model, op).foreach { acl =>
              Trace.replay {
                val parsed = Trace.span("compile.parse")(QueryCompiler.parse(Req.dsl(q)))
                val cq = Trace.span("compile.compile")(QueryCompiler.compile(parsed, acl))
                val ds = store.current
                sc.setLocalProperty(ExecListener.Key, i.toString)
                val res = try Trace.span("exec.search")(SearchExecutor.search(spark, ds, cq))
                  finally sc.setLocalProperty(ExecListener.Key, null)
                searches += 1
                hits += res.hits.size
              }
            }
          case op @ CountOp(_, _, _) =>
            Checker.aclFor(model, op).foreach(acl => transport(latNs)(Trace.span("serve.count")(service.count(acl))))
          case GetOp(_, id) => transport(latNs)(Trace.span("serve.get")(service.get(id)))
          case _ =>
        }
      }
      Trace.on = false
    })
    ListenerDrain(sc, 30000)

    val spans = Trace.spans
    val children = spans.groupBy(_.parent)
    def self(s: Span): Double = s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum
    def named(name: String, replay: Boolean) = spans.filter(s => s.name == name && s.replay == replay)
    def medMs(name: String, replay: Boolean) = median(named(name, replay).map(_.ms))
    val mutations = spans.filter(s => !s.replay &&
      Set("store.upsert", "store.partialUpdate", "store.delete")(s.name))
    val writeGets = spans.count(s => !s.replay && s.name == "store.get" && writes(s.req))
    val compactions = named("store.compact", replay = false)
    val segments = Trace.samplesOf("store.read_segments")
    val rep = listener.replay
    def ratio(x: Double, base: Double) = if (base == 0) 0.0 else x / base
    def perSearch(x: Double) = ratio(x, searches)
    Trace.dump(a.out.resolveSibling(a.out.getFileName.toString.stripSuffix(".json") + "-spans.tsv"))

    val (tr, plain) = window.samples.partition(s => isTraced(s.idx))
    val r = resultNode(window.attempted, window.failed)
    val m = metricsNode(r)
    r.set("by_class", byClass(Phase(plain, window.elapsedS)))
    put(m, "serve.auth_ms", medMs("serve.auth", replay = false), "ms")
    put(m, "serve.transport_ms", median(Trace.samplesOf("serve.transport_ms")), "ms")
    put(m, "serve.notify_per_write", ratio(Trace.counter("serve.notify"), writes.size), "count")
    put(m, "serve.cascade_per_delete", ratio(Trace.counter("serve.cascade"), deletes), "count")
    put(m, "compile.parse_us", medMs("compile.parse", replay = true) * 1000, "us")
    put(m, "compile.compile_us", medMs("compile.compile", replay = true) * 1000, "us")
    put(m, "exec.search_ms", medMs("exec.search", replay = true), "ms")
    put(m, "exec.count_ms", median(named("serve.count", replay = true).map(self)), "ms")
    put(m, "exec.jobs_per_search", perSearch(rep.jobs), "count")
    put(m, "exec.stages_per_search", perSearch(rep.stages), "count")
    put(m, "exec.tasks_per_search", perSearch(rep.tasks), "count")
    put(m, "exec.job_wall_ms_per_search", perSearch(rep.jobWallMs), "ms")
    put(m, "exec.driver_ms_per_search",
      perSearch(named("exec.search", replay = true).map(_.ms).sum - rep.jobWallMs), "ms")
    put(m, "exec.task_cpu_ms_per_search", perSearch(rep.taskCpuNs / 1e6), "ms")
    put(m, "exec.shuffle_bytes_per_search", perSearch(rep.shuffleBytes), "B")
    put(m, "exec.rows_read_per_hit", ratio(rep.inputRecords, hits), "count")
    put(m, "exec.failed_tasks", listener.all.failed, "count")
    put(m, "store.current_ms", medMs("store.current", replay = false), "ms")
    put(m, "store.read_segments", if (segments.isEmpty) 0 else segments.sum / segments.size, "count")
    put(m, "store.read_segments_max", segments.maxOption.getOrElse(0.0), "count")
    put(m, "store.get_ms", medMs("store.get", replay = false), "ms")
    put(m, "store.gets_per_write", ratio(writeGets, writes.size), "count")
    put(m, "store.write_self_ms", median(mutations.map(self)), "ms")
    put(m, "store.compactions", compactions.size, "count")
    put(m, "store.compact_ms", median(compactions.map(_.ms)), "ms")
    put(m, "store.bytes_written_per_write", ratio(bytesWritten, writes.size), "B")
    put(m, "store.bulk_load_s", median(setups.map(_.bulkLoadS)), "s")
    put(m, "store.compact_setup_s", median(setups.map(_.compactS)), "s")
    put(m, "jvm.gc_ms_per_req", ratio(gcMs, gcReqs), "ms")
    put(m, "trace.overhead_frac",
      latencyQuantile(mixLatenciesMs(Phase(tr, 0)), 0.5) /
        latencyQuantile(mixLatenciesMs(Phase(plain, 0)), 0.5) - 1, "ratio")
    put(m, "failed_frac", ratio(window.failed, window.attempted), "ratio")
    r
  }
}
