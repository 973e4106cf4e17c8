package servebench

import graft.model.{AclContext, DataSetFiltering, MetadataEntry}

import java.sql.Timestamp
import scala.collection.mutable

/** A caller of the catalog: bearer token, admin scope and org memberships. */
final case class User(token: String, admin: Boolean, orgs: Seq[String])

object Users {
  val admin: User = User("admin", admin = true, Nil)
  val members: Seq[User] =
    (0 until 4).map(i => User(s"u$i", admin = false, Seq(s"org$i"))) :+
      User("u01", admin = false, Seq("org0", "org1"))
  val all: Seq[User] = admin +: members
  def byToken(token: String): Option[User] = all.find(_.token == token)
  def memberOf(org: String): User = members.find(_.orgs == Seq(org)).get
}

/** One attribute filter of the query DSL, in the shapes the generator uses. */
sealed trait Filter { def field: String }
/** Term filter on a single-token string field (format, category, orgUUID). */
final case class TermFilter(field: String, values: Seq[String]) extends Filter
final case class PublicFilter(values: Seq[Boolean]) extends Filter { def field = "isPublic" }
/** creationTime range, inclusive; None is the DSL's -1 (unbounded). */
final case class TimeFilter(from: Option[Timestamp], to: Option[Timestamp]) extends Filter {
  def field = "creationTime"
}

final case class Query(text: Option[String], filters: Seq[Filter],
                       from: Option[Int], size: Option[Int]) {
  def fromOr0: Int = from.getOrElse(0)
  def sizeOr10: Int = size.getOrElse(10)
}

/** What a filter-only search must return, computed from the model. */
final case class ExpectedSearch(total: Long, pageIds: Seq[String],
                                categories: Seq[String], formats: Seq[String])

/** The benchmark's own model of the catalog: the live entries, and the
  * catalog's visibility rules written out independently of the program
  * (reference semantics: ACL or-group in the default mode, creationTime and
  * ACL in the query filter, other fields post-filtered, facets over the
  * query-filtered set, filter-only hits ordered by id).
  */
final class Model(initial: Iterable[MetadataEntry]) {
  private val live = mutable.HashMap.empty[String, MetadataEntry]
  initial.foreach(e => live(e.id) = e)

  def size: Int = live.size
  def get(id: String): Option[MetadataEntry] = live.get(id)
  def entries: Iterable[MetadataEntry] = live.values
  def put(e: MetadataEntry): Unit = live(e.id) = e
  def remove(id: String): Unit = live.remove(id)

  /** Auth resolution: the orgs a request runs under, or the 403 it earns. */
  def acl(user: User, requested: Seq[String],
          filtering: DataSetFiltering): Either[Int, AclContext] = {
    val req = requested.map(_.toLowerCase.trim)
    if (user.admin) Right(AclContext(req, isAdmin = true, filtering))
    else if (req.nonEmpty && !req.toSet.subsetOf(user.orgs.toSet)) Left(403)
    else Right(AclContext(if (req.nonEmpty) req else user.orgs, isAdmin = false, filtering))
  }

  /** (passes the query filter, passes the post filter) for one entry. */
  def passes(e: MetadataEntry, acl: AclContext, filters: Seq[Filter]): (Boolean, Boolean) = {
    val unscopedAdmin = acl.isAdmin && acl.orgUuidList.isEmpty
    val orgs = TermFilter("orgUUID", acl.orgUuidList)
    val injected: Seq[Filter] = acl.filtering match {
      case DataSetFiltering.Both => if (unscopedAdmin) Nil else Seq(orgs, PublicFilter(Seq(true)))
      case DataSetFiltering.OnlyPrivate =>
        (if (unscopedAdmin) Nil else Seq(orgs)) :+ PublicFilter(Seq(false))
      case DataSetFiltering.OnlyPublic => Seq(PublicFilter(Seq(true)))
    }
    val all = injected ++ filters
    val (aclish, rest) = all.partition(f => f.field == "orgUUID" || f.field == "isPublic")
    val (times, post) = rest.partition(_.field == "creationTime")
    val aclOk =
      if (acl.filtering == DataSetFiltering.Both) aclish.isEmpty || aclish.exists(test(e, _))
      else aclish.forall(test(e, _))
    (times.forall(test(e, _)) && aclOk, post.forall(test(e, _)))
  }

  private def test(e: MetadataEntry, f: Filter): Boolean = f match {
    case TermFilter("orgUUID", vs) => vs.map(_.toLowerCase).contains(e.orgUUID)
    case TermFilter(field, vs) =>
      val toks = Model.tokens(if (field == "format") e.format else e.category)
      vs.exists(v => toks.contains(v.toLowerCase))
    case PublicFilter(vs) => vs.contains(e.isPublic)
    case TimeFilter(lo, hi) =>
      e.creationTime != null && lo.forall(!e.creationTime.before(_)) &&
        hi.forall(!e.creationTime.after(_))
  }

  /** Entries visible to a count under this ACL. */
  def visibleCount(acl: AclContext): Long = matchCount(acl, Nil)

  /** Size of the query- and post-filtered set. */
  def matchCount(acl: AclContext, filters: Seq[Filter]): Long =
    live.valuesIterator.count { e => val (q, p) = passes(e, acl, filters); q && p }.toLong

  def expectFilterOnly(acl: AclContext, q: Query): ExpectedSearch = {
    val base = live.valuesIterator.map(e => e -> passes(e, acl, q.filters))
      .filter(_._2._1).toSeq
    val hits = base.filter(_._2._2).map(_._1).sortBy(_.id)
    def facet(key: MetadataEntry => String, top: Int): Seq[String] =
      base.groupBy(x => key(x._1)).toSeq
        .sortBy { case (k, xs) => (-xs.size, k) }.take(top).map(_._1)
    ExpectedSearch(hits.size.toLong, hits.slice(q.fromOr0, q.fromOr0 + q.sizeOr10).map(_.id),
      facet(_.category, 100), facet(_.format, 10))
  }

  /** Whether an entry can score above zero for a text query: a superset of
    * the catalog's title-contains / dataSample-term / sourceUri-term clauses.
    */
  def textCandidate(e: MetadataEntry, text: String): Boolean = {
    val hay = s"${e.title} ${e.dataSample} ${e.sourceUri}".toLowerCase
    hay.contains(text.toLowerCase) || Model.tokens(text).exists(hay.contains)
  }

  /** Entry-level read rule for GET (own org, public, or admin). */
  def readable(user: User, e: MetadataEntry): Boolean =
    user.admin || user.orgs.contains(e.orgUUID) || e.isPublic
}

object Model {
  /** Standard-analyzer tokens: lowercase, split on non-letters/digits. */
  def tokens(s: String): Seq[String] =
    s.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty).toSeq

  /** The partial-update field rules, applied to the model. */
  def merge(e: MetadataEntry, fields: Seq[(String, Any)]): MetadataEntry =
    fields.foldLeft(e) {
      case (acc, ("isPublic", v: Boolean)) => acc.copy(isPublic = v)
      case (acc, ("title", v: String)) => acc.copy(title = v)
      case (acc, ("category", v: String)) => acc.copy(category = v)
      case (acc, ("size", v: Long)) => acc.copy(size = v)
      case (_, (k, v)) => throw new IllegalArgumentException(s"no model rule for $k=$v")
    }
}
