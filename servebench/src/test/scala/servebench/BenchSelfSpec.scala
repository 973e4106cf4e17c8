package servebench

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.model.MetadataEntry
import org.scalatest.funsuite.AnyFunSuite

import java.net.InetSocketAddress
import java.sql.Timestamp

/** The benchmark's own checks on itself: generation is a function of the
  * seed, and a response that disagrees with the model counts as failed.
  */
class BenchSelfSpec extends AnyFunSuite {

  private def corpus(n: Int): Seq[MetadataEntry] = (0 until n).map { k =>
    val id = f"$k%06d"
    val words = Seq("almond", "blue", "ring", "bolt", "hot", "large")
    val title = s"${words(k % 6)} ${words((k / 6) % 6)}"
    MetadataEntry(id, s"cat${k % 8}", new Timestamp(Workload.Day0.getTime + (k % 365) * 86400000L),
      title, Seq("csv", "json", "avro")(k % 3), k % 2 == 0, s"org${k % 4}", k.toLong, 900L + k,
      "http://data.example.com/large", s"hdfs://nameservice1/org${k % 4}/$id", title)
  }

  test("the same seed gives the same requests; another seed gives others") {
    val model = new Model(corpus(500))
    Workload.all.foreach { w =>
      val a = Req.digest(Workload.generate(w, 42, model, 300))
      val b = Req.digest(Workload.generate(w, 42, new Model(corpus(500)), 300))
      val c = Req.digest(Workload.generate(w, 43, model, 300))
      assert(a == b, w.name)
      assert(a != c, w.name)
    }
  }

  test("generating write_mix leaves the caller's model untouched") {
    val model = new Model(corpus(100))
    Workload.generate(Workload.byName("write_mix").get, 1, model, 200)
    assert(model.size == 100)
  }

  test("a tampered response is counted as failed") {
    val entries = corpus(20)
    val model = new Model(entries)
    val mapper = new ObjectMapper()
    val tampered = entries(3).id
    // A stand-in catalog answering GETs from the same entries, with one
    // response altered.
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val id = ex.getRequestURI.getPath.split("/").last
      val e = entries.find(_.id == id).get
      val n = mapper.createObjectNode()
      n.put("id", e.id); n.put("category", e.category)
      n.put("creationTime", e.creationTime.toLocalDateTime.toString)
      n.put("dataSample", e.dataSample); n.put("format", e.format)
      n.put("isPublic", e.isPublic); n.put("orgUUID", e.orgUUID)
      n.put("recordCount", e.recordCount); n.put("size", e.size)
      n.put("sourceUri", e.sourceUri); n.put("targetUri", e.targetUri)
      n.put("title", if (id == tampered) e.title + " x" else e.title)
      val body = mapper.writeValueAsBytes(n)
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.start()
    try {
      val reqs = entries.take(6).map(e => Req(GetOp(Users.admin, e.id), "get")).toVector
      val phase = new ClosedLoop(server.getAddress.getPort, new Checker(model)).run(reqs, 1, 30)
      assert(phase.attempted == 6)
      assert(phase.samples.filter(_.failed).map(_.idx) == Seq(3))
    } finally server.stop(0)
  }

  test("the checker rejects wrong counts and wrong search totals") {
    val model = new Model(corpus(200))
    val checker = new Checker(model)
    val count = Req(CountOp(Users.members.head, Nil, graft.model.DataSetFiltering.Both), "count")
    val acl = model.acl(Users.members.head, Nil, graft.model.DataSetFiltering.Both).toOption.get
    val visible = model.visibleCount(acl)
    assert(checker.check(count, 200, visible.toString).isEmpty)
    assert(checker.check(count, 200, (visible + 1).toString).isDefined)
    assert(checker.check(count, 500, visible.toString).isDefined)

    val q = Query(None, Seq(TermFilter("format", Seq("csv"))), None, Some(0))
    val search = Req(SearchOp(Users.admin, Nil, graft.model.DataSetFiltering.Both, q), "search")
    val want = model.expectFilterOnly(model.acl(Users.admin, Nil,
      graft.model.DataSetFiltering.Both).toOption.get, q)
    def body(total: Long) =
      s"""{"hits":[],"total":$total,"categories":${want.categories.map(c => s""""$c"""").mkString("[", ",", "]")},""" +
        s""""formats":${want.formats.map(c => s""""$c"""").mkString("[", ",", "]")}}"""
    assert(checker.check(search, 200, body(want.total)).isEmpty)
    assert(checker.check(search, 200, body(want.total - 1)).isDefined)
  }

  test("the model applies acknowledged writes only") {
    val model = new Model(corpus(10))
    val checker = new Checker(model)
    val id = corpus(10).head.id
    assert(checker.check(Req(DeleteOp(Users.admin, id), "write"), 500, "{}").isDefined)
    assert(model.get(id).isDefined)
    val ok = """{"deletedFromDownloader":true,"deletedFromPublisher":true}"""
    assert(checker.check(Req(DeleteOp(Users.admin, id), "write"), 200, ok).isEmpty)
    assert(model.get(id).isEmpty)
    assert(checker.check(Req(GetOp(Users.admin, id), "get"), 404, "{}").isEmpty)
    assert(checker.check(Req(GetOp(Users.admin, id), "get"), 200, "{}").isDefined)
  }
}
