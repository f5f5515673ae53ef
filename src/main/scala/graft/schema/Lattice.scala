package graft.schema

/** The schema-unification lattice: a distributable, mergeable summary of
  * every (key path → set of observed value types) in a record set.
  *
  * This is the Spark-native form of the reference's `deconstruct_records`
  * IR (`src/load_datawarehouse/schema.py:41-52,486-773`): where the
  * reference walks `List[Dict]` in one Python loop collecting an
  * `OrderedSet` of Python types per key, we build one `Lat` per partition
  * and merge them associatively (`Lat.merge`) in a tree aggregation — the
  * same single-pass semantics, but parallel over any number of executors.
  *
  * Determinism note (SURVEY §4): field order follows first-observation
  * order *within* a partition and partition index order across partitions,
  * which for a stable input order reproduces the reference's
  * insertion-order schema exactly.
  */
sealed trait Lat extends Serializable

object Lat {

  /** Scalar observation tags — the reference's "observed Python type" set
    * (schema.py:661-675), minus NoneType which is skipped at collection
    * time (schema.py:687).
    */
  sealed abstract class Tag(val rank: Int) extends Serializable
  object Tag {
    case object TBytes extends Tag(0)
    case object TTimestamp extends Tag(1) // tz-aware (pandas datetime64 UTC analog)
    case object TDatetime extends Tag(2) // naive datetime
    case object TDate extends Tag(3)
    case object TTime extends Tag(4)
    case object TStr extends Tag(5)
    case object TFloat extends Tag(6)
    case object TInt extends Tag(7)
    case object TBool extends Tag(8)
  }

  /** Nothing observed yet (or only nulls — reference keeps the key but
    * with an empty type set, later defaulted to STRING NULLABLE).
    */
  case object LEmpty extends Lat

  /** A set of scalar observations in first-seen order. */
  final case class LScalar(tags: List[Tag]) extends Lat

  /** A repeated field; `elem` is the unified element lattice. The
    * reference's `ListField` cannot contain records (schema.py:414) —
    * if dicts appear inside a list the whole field becomes a record
    * (`LRecord`) and non-dict elements count as `typeErrors`.
    */
  final case class LList(elem: Lat) extends Lat

  /** A nested record: ordered fields, each with the index of the record
    * that first introduced it (for `factor_of_records_adding_fields`,
    * schema.py:500-502,753-755).
    */
  final case class LRecord(fields: Vector[(String, Lat)],
                           firstIdx: Map[String, Long]) extends Lat

  def scalar(t: Tag): Lat = LScalar(List(t))

  private def mergeTags(a: List[Tag], b: List[Tag]): List[Tag] =
    a ++ b.filterNot(a.contains)

  /** Associative, commutative-up-to-field-order merge. Conflicting shapes
    * resolve with the reference's precedence: record ≻ list ≻ scalar
    * (condense order, schema.py:376-383; "dicts win" schema.py:725-729).
    * The demoted side is information loss the reference reports via
    * `type_errors`; callers track error counts separately.
    */
  def merge(a: Lat, b: Lat): Lat = (a, b) match {
    case (LEmpty, x) => x
    case (x, LEmpty) => x
    case (LScalar(ta), LScalar(tb)) => LScalar(mergeTags(ta, tb))
    case (ra: LRecord, rb: LRecord) =>
      val bMap = rb.fields.toMap
      val merged = ra.fields.map { case (k, v) =>
        k -> bMap.get(k).map(merge(v, _)).getOrElse(v)
      }
      val aKeys = ra.fields.map(_._1).toSet
      val appended = rb.fields.filterNot { case (k, _) => aKeys.contains(k) }
      val firstIdx = (ra.firstIdx.keySet ++ rb.firstIdx.keySet).map { k =>
        k -> math.min(ra.firstIdx.getOrElse(k, Long.MaxValue),
          rb.firstIdx.getOrElse(k, Long.MaxValue))
      }.toMap
      LRecord(merged ++ appended, firstIdx)
    case (la: LList, lb: LList) => LList(merge(la.elem, lb.elem))
    case (r: LRecord, _) => r
    case (_, r: LRecord) => r
    case (l: LList, s: LScalar) => LList(merge(l.elem, s))
    case (s: LScalar, l: LList) => LList(merge(s, l.elem))
  }
}

/** Result of a (possibly distributed) deconstruction pass — the
  * reference's `DeconstructedRecords` (schema.py:41-46).
  */
final case class Deconstructed(lat: Lat, records: Long, typeErrors: Long,
                               addingFields: Long) {
  /** schema.py:753-755 — how many records introduced at least one new
    * field, over the total (0 for ≤1 record, by convention 0.0 on empty).
    */
  def factorOfRecordsAddingFields: Double =
    if (records == 0) 0.0 else addingFields.toDouble / records.toDouble

  def merge(other: Deconstructed): Deconstructed = {
    val mergedLat = Lat.merge(lat, other.lat)
    val adding = (lat, other.lat, mergedLat) match {
      case (_: Lat.LRecord, _: Lat.LRecord, Lat.LRecord(_, fm)) =>
        // distinct first-introduction indices across the union of paths
        fm.values.toSet.size.toLong
      case _ => addingFields + other.addingFields
    }
    Deconstructed(mergedLat, records + other.records,
      typeErrors + other.typeErrors, adding)
  }
}
