package graft.osm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** OSM tags-filter DSL — Scala ADT port of the reference's
  * `OsmTagsFilter` / `GroupedOsmTagsFilter` semantics
  * (/root/reference/quackosm/_typing.py via _osm_tags_filters.py:9-12;
  * SQL compilation pbf_file_reader.py:2518-2564; wildcard expansion
  * :1460-1516), compiled to Catalyst Columns instead of SQL strings.
  */
object TagFilters {

  /** Value side of one `key -> matcher` entry. */
  sealed trait TagMatch
  /** `key: True` — any value. */
  case object AnyValue extends TagMatch
  /** `key: False` — NEGATIVE clause: key must be absent. */
  case object Absent extends TagMatch
  /** `key: "v"` or `key: ["v1","v2"]`; values may contain `*` wildcards. */
  final case class Values(vs: Seq[String]) extends TagMatch

  /** Flat filter: `{"building": true, "amenity": ["bar","cafe"]}`. Keys may
    * contain `*` wildcards (expanded against the data, F3). */
  type OsmTagsFilter = Map[String, TagMatch]

  /** Grouped filter: group name -> flat filter (reference
    * GroupedOsmTagsFilter). */
  type GroupedFilter = Map[String, OsmTagsFilter]

  /** Metadata tags dropped from output tags
    * (/root/reference/quackosm/_constants.py:18-29). Entries ending in ':'
    * are prefixes. */
  val MetadataTagsToIgnore: Seq[String] = Seq(
    "area", "created_by", "converted_by", "source", "time", "ele", "note",
    "todo", "fixme", "FIXME", "openGeoDB:")

  /** F4: rebuild the map without metadata keys
    * (pbf_file_reader.py:2566-2595) — `map_filter` higher-order function,
    * fully codegen'd. */
  def stripMetadataTags(tags: Column): Column = {
    val (prefixes, exact) = MetadataTagsToIgnore.partition(_.endsWith(":"))
    map_filter(tags, (k, _) => {
      val notExact = exact.map(e => k =!= e).reduce(_ && _)
      val notPrefix = prefixes.map(p => !k.startsWith(p)).reduce(_ && _)
      notExact && notPrefix
    })
  }

  /** Whether a tag `value` matches any of `vs`: `*` is the only
    * wildcard — a literal `%` or `_` in a value matches itself, not any
    * character. The one value matcher of the filter and of the tag
    * subsetting and group columns built from it. */
  def valueMatches(value: Column, vs: Seq[String]): Column =
    vs.map { v =>
      if (v.contains("*"))
        value.like(v.replace("%", "\\%").replace("_", "\\_")
          .replace("*", "%"))
      else value === v
    }.reduce(_ || _)

  /** Predicate for one key's matcher over a tags map column. */
  private def entryClause(tags: Column, key: String, m: TagMatch): Column = {
    val value = element_at(tags, key)
    m match {
      case AnyValue => value.isNotNull
      case Absent => value.isNull // negative — caller ANDs it
      case Values(vs) => valueMatches(value, vs)
    }
  }

  /** F2 compiler (pbf_file_reader.py:2518-2564): positive clauses OR-ed,
    * negative (`false`) clauses AND-ed onto the result. A filter with only
    * negative clauses matches any tagged element minus the negatives. */
  def compile(filter: OsmTagsFilter, tags: Column): Column = {
    val (neg, pos) = filter.partition(_._2 == Absent)
    val positive =
      if (pos.isEmpty) lit(true)
      else pos.toSeq.sortBy(_._1)
        .map { case (k, m) => entryClause(tags, k, m) }
        .reduce(_ || _)
    val negative = neg.toSeq.sortBy(_._1)
      .map { case (k, m) => entryClause(tags, k, m) }
      .foldLeft(lit(true))(_ && _)
    coalesce(positive, lit(false)) && negative
  }

  /** Grouped filter compiles to the union of its groups
    * (_osm_tags_filters.py merge semantics :100-180). */
  def compileGrouped(filter: GroupedFilter, tags: Column): Column =
    filter.values.map(f => compile(f, tags)).reduce(_ || _)

  /** F3: expand `*`-wildcard KEYS against the distinct keys present in the
    * data (pbf_file_reader.py:1460-1516). The distinct-key collect is tiny
    * (bounded by tag vocabulary, not data size) — the one permissible
    * driver-side collect in the pipeline. */
  def expandWildcardKeys(filter: OsmTagsFilter, elements: DataFrame): OsmTagsFilter = {
    val wildcardKeys = filter.keys.filter(_.contains("*")).toSeq
    if (wildcardKeys.isEmpty) filter
    else {
      val distinctKeys = elements
        .select(explode(map_keys(col("tags"))).as("k")).distinct()
        .collect().map(_.getString(0))
      filter.flatMap { case (k, m) =>
        if (!k.contains("*")) Seq(k -> m)
        else {
          val re = java.util.regex.Pattern.compile(
            k.split("\\*", -1).map(java.util.regex.Pattern.quote).mkString(".*"))
          distinctKeys.filter(dk => re.matcher(dk).matches()).map(_ -> m)
        }
      }
    }
  }

  /** Merge algebra (_osm_tags_filters.py:100-180): key-wise union of
    * filters, with the reference's conflict rule — a key cannot be both
    * positive (AnyValue / Values) in one filter and negative (Absent) in
    * another. AnyValue absorbs value lists; value lists append with
    * order-preserving dedup. Used to collapse a GroupedFilter (or several
    * filters) into the single prefilter the loader scans with. */
  def merge(filters: Iterable[OsmTagsFilter]): OsmTagsFilter = {
    val result = scala.collection.mutable.LinkedHashMap.empty[String, TagMatch]
    for (f <- filters; (k, m) <- f) {
      val merged = (result.get(k), m) match {
        case (None, _) => m
        case (Some(Absent), Absent) => Absent
        case (Some(Absent), _) | (Some(_), Absent) =>
          throw new IllegalArgumentException(
            s"OSM tags filter values cannot be merged: conflict on key '$k' " +
              s"between ${result(k)} and $m (positive vs negative).")
        case (Some(AnyValue), _) | (Some(_), AnyValue) => AnyValue
        case (Some(Values(a)), Values(b)) => Values(a ++ b.filterNot(a.contains))
      }
      result(k) = merged
    }
    result.toMap
  }

  /** Grouped filter → single flat filter (reference
    * `merge_osm_tags_filter` on GroupedOsmTagsFilter). Groups merge in
    * sorted-name order so the result is deterministic. */
  def mergeGrouped(grouped: GroupedFilter): OsmTagsFilter =
    merge(grouped.toSeq.sortBy(_._1).map(_._2))

  /** `check_if_any_osm_tags_filter_value_is_positive`
    * (_osm_tags_filters.py:81-98): does any entry actually SELECT
    * anything (vs only excluding)? */
  def anyPositive(filter: OsmTagsFilter): Boolean =
    filter.values.exists(_ != Absent)

  /** F6: explicit `kind/id` filter (pbf_file_reader.py:2633-2648). */
  def osmIdsClause(ids: Seq[String], kind: Column, id: Column): Column =
    ids.groupBy(_.takeWhile(_ != '/')).map { case (k, full) =>
      kind === k && id.isin(full.map(_.dropWhile(_ != '/').drop(1).toLong): _*)
    }.reduce(_ || _)
}
