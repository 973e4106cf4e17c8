package servebench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.model.{AclContext, MetadataEntry}

import scala.jdk.CollectionConverters._

/** Checks each response against the benchmark's model and applies every
  * acknowledged write to it. Returns None when the response is right, or a
  * description of the mismatch. Writes come from a single client, so the
  * model changes only between requests, never during a check.
  */
final class Checker(model: Model) {
  private val mapper = new ObjectMapper()

  def check(req: Req, status: Int, body: String): Option[String] =
    try checkOp(req.op, status, body)
    catch { case e: Exception => Some(s"unreadable response ($status): ${e.getMessage}") }

  private def expectStatus(want: Int, got: Int): Option[String] =
    if (want == got) None else Some(s"status $got, expected $want")

  private def checkOp(op: Op, status: Int, body: String): Option[String] = op match {
    case BadSearchOp(_, _) => expectStatus(400, status)

    case SearchOp(user, orgs, filtering, q) => model.acl(user, orgs, filtering) match {
      case Left(code) => expectStatus(code, status)
      case Right(acl) => expectStatus(200, status).orElse(checkSearch(acl, q, json(body)))
    }

    case CountOp(user, orgs, filtering) => model.acl(user, orgs, filtering) match {
      case Left(code) => expectStatus(code, status)
      case Right(acl) =>
        expectStatus(200, status).orElse {
          val want = model.visibleCount(acl)
          val got = body.trim.toLong
          if (got == want) None else Some(s"count $got, expected $want")
        }
    }

    case GetOp(user, id) => model.get(id) match {
      case None => expectStatus(404, status)
      case Some(e) if !model.readable(user, e) => expectStatus(403, status)
      case Some(e) => expectStatus(200, status).orElse(sameEntry(e, json(body)))
    }

    case PutOp(user, e) =>
      val want =
        if (!user.admin && !user.orgs.contains(e.orgUUID)) 403
        else if (model.get(e.id).isDefined) 200 else 201
      val bad = expectStatus(want, status)
      if (bad.isEmpty && want != 403) model.put(e)
      bad

    case PostOp(user, id, fields) => model.get(id) match {
      case None => expectStatus(404, status)
      case Some(e) if !user.admin && !user.orgs.contains(e.orgUUID) => expectStatus(403, status)
      case Some(e) =>
        val bad = expectStatus(200, status)
        if (bad.isEmpty) model.put(Model.merge(e, fields))
        bad
    }

    case DeleteOp(user, id) => model.get(id) match {
      case None => expectStatus(404, status)
      case Some(e) if !user.admin && !user.orgs.contains(e.orgUUID) => expectStatus(403, status)
      case Some(_) =>
        expectStatus(200, status).orElse {
          val n = json(body)
          if (n.path("deletedFromDownloader").asBoolean(false) &&
              n.path("deletedFromPublisher").asBoolean(false)) { model.remove(id); None }
          else Some(s"delete body $body")
        }
    }
  }

  private def json(body: String): JsonNode = mapper.readTree(body)

  private def strings(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq

  private def checkSearch(acl: AclContext, q: Query, n: JsonNode): Option[String] = {
    val hits = n.path("hits").elements.asScala.toSeq
    val total = n.path("total").asLong(-1)
    val ids = hits.map(_.path("id").asText)
    val expectedHits = math.max(0L, math.min(q.sizeOr10.toLong, total - q.fromOr0)).toInt
    val hitProblem = hits.iterator.map { h =>
      val id = h.path("id").asText
      model.get(id) match {
        case None => Some(s"hit $id is not a live entry")
        case Some(e) =>
          val (qOk, pOk) = model.passes(e, acl, q.filters)
          if (!qOk || !pOk) Some(s"hit $id fails the filters or ACL")
          else if (q.text.exists(t => !model.textCandidate(e, t))) Some(s"hit $id cannot match the text")
          else sameEntry(e, h)
      }
    }.collectFirst { case Some(p) => p }
    val shape =
      if (hits.size != expectedHits) Some(s"${hits.size} hits with total $total, expected $expectedHits")
      else if (ids.distinct.size != ids.size) Some("duplicate hits")
      else None
    val exact = q.text match {
      case Some(_) =>
        val visible = model.matchCount(acl, q.filters)
        if (total < 0 || total > visible) Some(s"total $total exceeds the $visible visible entries")
        else None
      case None =>
        val want = model.expectFilterOnly(acl, q)
        if (total != want.total) Some(s"total $total, expected ${want.total}")
        else if (ids != want.pageIds) Some(s"page ${ids.take(3)}..., expected ${want.pageIds.take(3)}...")
        else if (strings(n.path("categories")) != want.categories)
          Some(s"categories ${strings(n.path("categories"))}, expected ${want.categories}")
        else if (strings(n.path("formats")) != want.formats)
          Some(s"formats ${strings(n.path("formats"))}, expected ${want.formats}")
        else None
    }
    shape.orElse(hitProblem).orElse(exact)
  }

  private def sameEntry(e: MetadataEntry, n: JsonNode): Option[String] = {
    def text(f: String): String = n.path(f).asText(null)
    val ts = Option(text("creationTime")).map(java.time.LocalDateTime.parse)
    val same =
      text("id") == e.id && text("category") == e.category &&
        ts == Option(e.creationTime).map(_.toLocalDateTime) &&
        text("dataSample") == e.dataSample && text("format") == e.format &&
        n.path("isPublic").isBoolean && n.path("isPublic").asBoolean == e.isPublic &&
        text("orgUUID") == e.orgUUID && n.path("recordCount").asLong(-1) == e.recordCount &&
        n.path("size").asLong(-1) == e.size && text("sourceUri") == e.sourceUri &&
        text("targetUri") == e.targetUri && text("title") == e.title
    if (same) None else Some(s"entry ${e.id} differs from the model: $n")
  }
}

object Checker {
  /** The ACL a direct service call needs to replay a read. */
  def aclFor(model: Model, op: Op): Option[AclContext] = op match {
    case SearchOp(u, orgs, f, _) => model.acl(u, orgs, f).toOption
    case CountOp(u, orgs, f) => model.acl(u, orgs, f).toOption
    case _ => None
  }
}
