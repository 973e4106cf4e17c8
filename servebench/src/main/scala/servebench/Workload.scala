package servebench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.model.{DataSetFiltering, MetadataEntry}

import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import scala.util.Random

/** One catalog operation as the benchmark sees it. */
sealed trait Op { def user: User }
final case class SearchOp(user: User, orgs: Seq[String], filtering: DataSetFiltering,
                          q: Query) extends Op
/** A search whose DSL is malformed on purpose (400). */
final case class BadSearchOp(user: User, dsl: String) extends Op
final case class GetOp(user: User, id: String) extends Op
final case class CountOp(user: User, orgs: Seq[String], filtering: DataSetFiltering) extends Op
final case class PutOp(user: User, entry: MetadataEntry) extends Op
final case class PostOp(user: User, id: String, fields: Seq[(String, Any)]) extends Op
final case class DeleteOp(user: User, id: String) extends Op

/** A generated request: the operation, its class for latency accounting
  * (`search`, `get`, `count`, `write`, or `probe` for requests that should
  * fail with a known status), and its HTTP rendering.
  */
final case class Req(op: Op, cls: String) {
  lazy val (method, target, body): (String, String, Option[String]) = Req.render(op)
}

object Req {
  val Base = "/rest/datasets"
  private val mapper = new ObjectMapper()
  private val TsFmt: java.time.format.DateTimeFormatter =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def ts(t: Timestamp): String = t.toLocalDateTime.format(TsFmt)

  private def aclParams(orgs: Seq[String], f: DataSetFiltering): Seq[String] =
    (if (orgs.nonEmpty) Seq("orgs=" + enc(orgs.mkString(","))) else Nil) ++ (f match {
      case DataSetFiltering.OnlyPublic => Seq("onlyPublic=true")
      case DataSetFiltering.OnlyPrivate => Seq("onlyPrivate=true")
      case DataSetFiltering.Both => Nil
    })

  private def enc(s: String): String = URLEncoder.encode(s, UTF_8)
  private def withParams(path: String, ps: Seq[String]): String =
    if (ps.isEmpty) path else path + "?" + ps.mkString("&")

  def dsl(q: Query): String = {
    val n = mapper.createObjectNode()
    q.text.foreach(n.put("query", _))
    if (q.filters.nonEmpty) {
      val fs = n.putArray("filters")
      q.filters.foreach { f =>
        val vs = fs.addObject().putArray(f.field)
        f match {
          case TermFilter(_, values) => values.foreach(vs.add)
          case PublicFilter(values) => values.foreach(b => vs.add(b))
          case TimeFilter(lo, hi) =>
            Seq(lo, hi).foreach(_.fold(vs.add(-1))(t => vs.add(ts(t))))
        }
      }
    }
    q.from.foreach(n.put("from", _))
    q.size.foreach(n.put("size", _))
    mapper.writeValueAsString(n)
  }

  def entryBody(e: MetadataEntry): String = {
    val n: ObjectNode = mapper.createObjectNode()
    n.put("category", e.category)
    n.put("creationTime", ts(e.creationTime).replace(' ', 'T'))
    n.put("dataSample", e.dataSample)
    n.put("format", e.format)
    n.put("isPublic", e.isPublic)
    n.put("orgUUID", e.orgUUID)
    n.put("recordCount", e.recordCount)
    n.put("size", e.size)
    n.put("sourceUri", e.sourceUri)
    n.put("targetUri", e.targetUri)
    n.put("title", e.title)
    mapper.writeValueAsString(n)
  }

  def render(op: Op): (String, String, Option[String]) = op match {
    case SearchOp(_, orgs, f, q) =>
      ("GET", withParams(Base, ("query=" + enc(dsl(q))) +: aclParams(orgs, f)), None)
    case BadSearchOp(_, d) => ("GET", withParams(Base, Seq("query=" + enc(d))), None)
    case GetOp(_, id) => ("GET", s"$Base/$id", None)
    case CountOp(_, orgs, f) => ("GET", withParams(s"$Base/count", aclParams(orgs, f)), None)
    case PutOp(_, e) => ("PUT", s"$Base/${e.id}", Some(entryBody(e)))
    case PostOp(_, id, fields) =>
      val n = mapper.createObjectNode()
      fields.foreach {
        case (k, v: Boolean) => n.put(k, v)
        case (k, v: Long) => n.put(k, v)
        case (k, v) => n.put(k, v.toString)
      }
      ("POST", s"$Base/$id", Some(mapper.writeValueAsString(n)))
    case DeleteOp(_, id) => ("DELETE", s"$Base/$id", None)
  }

  /** SHA-256 over everything sent: order, method, target, token and body. */
  def digest(reqs: Iterable[Req]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    reqs.foreach { r =>
      md.update(s"${r.method} ${r.target} ${r.op.user.token}\n${r.body.getOrElse("")}\n".getBytes(UTF_8))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** A workload: store size, closed-loop client count, warm-up clients and
  * requests, and a seeded request generator. The generator sees only the seed
  * and the catalog's contents; it simulates its own copy of the model so
  * writes always target live ids.
  */
final case class Workload(name: String, copies: Int, maxClients: Int, maxWarmClients: Int,
                          warmRequests: Int, gen: (Random, Model) => Iterator[Req]) {
  def clients(nproc: Int): Int = math.max(1, math.min(maxClients, nproc))
  def warmClients(nproc: Int): Int = math.max(1, math.min(maxWarmClients, nproc))
}

object Workload {
  val Day0: Timestamp = Timestamp.valueOf("2015-01-01 00:00:00")
  private val Formats = Seq("csv", "json", "avro")
  private val Categories = (0 until 8).map(i => s"cat$i")
  private val Orgs = (0 until 4).map(i => s"org$i")

  val all: Seq[Workload] = Seq(
    Workload("search_read", 1, 1, 4, 28, searchRead),
    Workload("write_mix", 1, 1, 1, 6, writeMix),
    Workload("search_scale", 10, 1, 4, 28, searchScale))

  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Reads that leave the store as it is: the read mix. */
  val warmup: Workload = all.head

  /** `n` requests of a workload for a seed, fully determined by both. */
  def generate(w: Workload, seed: Long, model: Model, n: Int): Vector[Req] =
    w.gen(new Random(seed), model).take(n).toVector

  private def day(d: Int): Timestamp = new Timestamp(Day0.getTime + d * 86400000L)

  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.size))

  private def vocabulary(model: Model): Vector[String] =
    model.entries.iterator.flatMap(e => Model.tokens(e.title)).toSet.toVector.sorted

  // The read helpers take two sources: `s` draws a request's shape (which
  // parts it has, how many values, paging, ACL mode, admin or member) from
  // a fixed sequence shared by every seed, and `r` draws its values from the
  // seed. Runs of different seeds then send requests of the same cost mix.

  private def anyUser(s: Random, r: Random): User =
    if (s.nextDouble() < 0.3) Users.admin else pick(r, Users.members)

  /** Org scope a caller asks for: none, or a subset it may ask for. */
  private def orgsFor(s: Random, r: Random, u: User): Seq[String] =
    if (u.admin) { if (s.nextBoolean()) Nil else r.shuffle(Orgs).take(1 + s.nextInt(2)) }
    else if (s.nextDouble() < 0.7) Nil else Seq(pick(r, u.orgs))

  private def filtering(s: Random): DataSetFiltering = {
    val x = s.nextDouble()
    if (x < 0.6) DataSetFiltering.Both else if (x < 0.8) DataSetFiltering.OnlyPublic
    else DataSetFiltering.OnlyPrivate
  }

  /** FIXTURES.md §2 shapes: optional text from the title vocabulary, term,
    * range and ACL-field filters, from/size paging.
    */
  private def query(s: Random, r: Random, vocab: Vector[String]): Query = {
    def some[A](xs: Seq[A], max: Int): Seq[A] = r.shuffle(xs).take(1 + s.nextInt(max))
    val text =
      if (s.nextBoolean()) None
      else Some(Seq.fill(if (s.nextDouble() < 0.7) 1 else 2)(pick(r, vocab)).mkString(" "))
    val filters = Seq.newBuilder[Filter]
    if (s.nextDouble() < 0.3) filters += TermFilter("format", some(Formats, 2))
    if (s.nextDouble() < 0.3) filters += TermFilter("category", some(Categories, 2))
    if (s.nextDouble() < 0.25) {
      val lo = r.nextInt(365)
      val hi = lo + r.nextInt(200)
      filters += TimeFilter(if (s.nextDouble() < 0.2) None else Some(day(lo)),
        if (s.nextDouble() < 0.2) None else Some(day(hi)))
    }
    if (s.nextDouble() < 0.1) filters += TermFilter("orgUUID", Seq(pick(r, Orgs)))
    if (s.nextDouble() < 0.1) filters += PublicFilter(Seq(r.nextBoolean()))
    val from = if (s.nextDouble() < 0.7) None else Some(pick(s, Seq(0, 10, 20, 40)))
    val size = if (s.nextBoolean()) None else Some(pick(s, Seq(1, 5, 20, 50)))
    Query(text, filters.result(), from, size)
  }

  private def search(s: Random, r: Random, vocab: Vector[String]): Req = {
    val u = anyUser(s, r)
    Req(SearchOp(u, orgsFor(s, r, u), filtering(s), query(s, r, vocab)), "search")
  }

  private def count(s: Random, r: Random): Req = {
    val u = anyUser(s, r)
    Req(CountOp(u, orgsFor(s, r, u), filtering(s)), "count")
  }

  /** The fixed source of request shapes. */
  private def shapes: Random = new Random(1)

  /** Zipf(1) over the ids in a seed-dependent order: a few hot entries. */
  private final class Zipf(r: Random, ids: Vector[String]) {
    private val order = r.shuffle(ids)
    private val cdf = {
      val w = Array.tabulate(order.size)(i => 1.0 / (i + 1))
      var acc = 0.0
      w.map { x => acc += x; acc }
    }
    def next(): String = {
      val x = r.nextDouble() * cdf.last
      val i = java.util.Arrays.binarySearch(cdf, x)
      order(if (i >= 0) i else -i - 1)
    }
  }

  private val BadDsl = Seq(
    """{"query": "ring", "filters": [{"bogus": ["x"]}]}""",
    """{"filters": [{"creationTime": ["2015-01-01 00:00:00"]}]}""",
    """{"filters": {"format": ["csv"]}}""",
    """{"query": "ring", "size": "ten"}""",
    """{"query": """)

  private def probe(s: Random, r: Random): Req = s.nextInt(3) match {
    case 0 => Req(BadSearchOp(anyUser(s, r), pick(r, BadDsl)), "probe")
    case 1 =>
      val u = pick(r, Users.members)
      Req(SearchOp(u, Seq(pick(r, Orgs.filterNot(u.orgs.contains))), DataSetFiltering.Both,
        Query(None, Nil, None, None)), "probe")
    case _ => Req(GetOp(anyUser(s, r), f"missing-${r.nextInt(1000000)}%06d"), "probe")
  }

  /** The order of request classes: one fixed interleaving of the mix,
    * repeated. Every seed sends the same classes in the same order, so runs
    * differ only in the requests' targets and values, not in their mix.
    */
  private def pattern(mix: (String, Int)*): Iterator[String] = {
    val slots = new Random(0).shuffle(mix.flatMap { case (c, n) => Seq.fill(n)(c) })
    Iterator.continually(slots).flatten
  }

  private def searchRead(r: Random, model: Model): Iterator[Req] = {
    val vocab = vocabulary(model)
    val zipf = new Zipf(r, model.entries.map(_.id).toVector.sorted)
    val s = shapes
    pattern("search" -> 14, "get" -> 3, "count" -> 2, "probe" -> 1).map {
      case "search" => search(s, r, vocab)
      case "get" => Req(GetOp(anyUser(s, r), zipf.next()), "get")
      case "count" => count(s, r)
      case _ => probe(s, r)
    }
  }

  private def searchScale(r: Random, model: Model): Iterator[Req] = {
    val vocab = vocabulary(model)
    val s = shapes
    pattern("search" -> 17, "count" -> 3).map {
      case "search" => search(s, r, vocab)
      case _ => count(s, r)
    }
  }

  /** Mutations against the live set, with reads between them: the
    * generator applies every write to its own model so later writes hit
    * live ids. A toggle is a POST of `isPublic`; an edit POSTs another field.
    */
  private def writeMix(r: Random, model: Model): Iterator[Req] = {
    val sim = new Model(model.entries)
    val vocab = vocabulary(model)
    val ids = scala.collection.mutable.ArrayBuffer.from(model.entries.map(_.id).toVector.sorted)
    val s = shapes
    var created = 0
    var lastWritten: Option[String] = None
    def writer(org: String): User =
      if (r.nextBoolean()) Users.admin else Users.memberOf(org)
    def liveId(): String = ids(r.nextInt(ids.size))
    def words(): String = Seq.fill(2)(pick(r, vocab)).mkString(" ")
    def post(fields: MetadataEntry => Seq[(String, Any)]): Req = {
      val e = sim.get(liveId()).get
      val fs = fields(e)
      sim.put(Model.merge(e, fs)); lastWritten = Some(e.id)
      Req(PostOp(writer(e.orgUUID), e.id, fs), "write")
    }
    pattern("put" -> 4, "toggle" -> 3, "edit" -> 2, "delete" -> 3,
        "get" -> 2, "search" -> 1, "count" -> 1).map {
      case "put" =>
        created += 1
        val id = f"w$created%06d"
        val org = pick(r, Orgs)
        val title = words()
        val e = MetadataEntry(id, pick(r, Categories), day(r.nextInt(365)), title,
          pick(r, Formats), r.nextBoolean(), org, r.nextInt(100000).toLong,
          1000L + r.nextInt(1000000), s"http://data.example.com/${pick(r, vocab)}",
          s"hdfs://nameservice1/$org/$id", title)
        sim.put(e); ids += id; lastWritten = Some(id)
        Req(PutOp(writer(org), e), "write")
      case "toggle" => post(e => Seq("isPublic" -> !e.isPublic))
      case "edit" => post(_ => r.nextInt(3) match {
        case 0 => Seq("title" -> words())
        case 1 => Seq("category" -> pick(r, Categories))
        case _ => Seq("size" -> (1000L + r.nextInt(1000000)))
      })
      case "delete" =>
        val i = r.nextInt(ids.size)
        val id = ids(i)
        ids(i) = ids.last; ids.remove(ids.size - 1)
        val org = sim.get(id).get.orgUUID
        sim.remove(id); lastWritten = Some(id)
        Req(DeleteOp(writer(org), id), "write")
      case "get" => Req(GetOp(anyUser(s, r), lastWritten.getOrElse(liveId())), "get")
      case "search" => search(s, r, vocab)
      case _ => count(s, r)
    }
  }
}
