package graft.schema

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.schema.Lat._
import graft.schema.Lat.Tag._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Schema inference over semi-structured records — the reference's
  * `deconstruct_records` → `condense_record_fields` → api_repr pipeline
  * (`src/load_datawarehouse/schema.py:486-773,265-403`,
  * `src/load_datawarehouse/bigquery/schema.py:515-639`).
  *
  * Two entry shapes:
  *  - `deconstructRecords` — driver-side walk of in-memory records
  *    (`Seq[Map[String, Any]]`, arbitrarily nested), which is the
  *    reference's actual use-case (API payload batches);
  *  - `deconstructJson` — the 100 TB path: a distributed single-pass
  *    lattice build over a `Dataset[String]` of JSON lines, merged with
  *    `treeAggregate` (no shuffle; O(log n) merge depth).
  *
  * Key cleaning (`prepare`, data.py:123-144) happens before inference so
  * the resulting schema is warehouse-legal.
  */
object SchemaInference {

  // ---------- driver-side record walk ----------

  /** Observe one scalar value → tag. Nulls return None (skipped at
    * collection time, schema.py:687).
    */
  private def tagOf(v: Any): Option[Tag] = v match {
    case null => None
    case None => None
    case _: Array[Byte] => Some(TBytes)
    case _: java.time.Instant => Some(TTimestamp)
    case _: java.time.OffsetDateTime => Some(TTimestamp)
    case _: java.time.ZonedDateTime => Some(TTimestamp)
    case _: java.sql.Timestamp => Some(TDatetime)
    case _: java.time.LocalDateTime => Some(TDatetime)
    case _: java.sql.Date => Some(TDate)
    case _: java.time.LocalDate => Some(TDate)
    case _: java.time.LocalTime => Some(TTime)
    case _: String => Some(TStr)
    case _: Char => Some(TStr)
    case _: Boolean => Some(TBool)
    case _: Byte | _: Short | _: Int | _: Long | _: BigInt => Some(TInt)
    case _: Float | _: Double | _: BigDecimal => Some(TFloat)
    case _: java.math.BigDecimal => Some(TFloat)
    case _ => None // unknown class → typeless → defaults to STRING later
  }

  /** Walk one value into a lattice. Maps/records recurse; iterables
    * become LList unless they contain records (then record wins and
    * non-record elements are type errors — schema.py:725-729).
    */
  private def walk(v: Any, idx: Long, errors: ErrorCounter): Lat = v match {
    case m: scala.collection.Map[_, _] =>
      record(m.toSeq.map { case (k, value) =>
        Sanitize.cleanFieldKey(k) -> walk(value, idx, errors)
      }, idx)
    case m: java.util.Map[_, _] => walk(m.asScala, idx, errors)
    case it: Iterable[_] =>
      foldList(it.toSeq, idx, errors)
    case it: java.util.List[_] => foldList(it.asScala.toSeq, idx, errors)
    case arr: Array[_] if !arr.isInstanceOf[Array[Byte]] =>
      foldList(arr.toSeq, idx, errors)
    case scalar =>
      tagOf(scalar) match {
        case Some(t) => Lat.scalar(t)
        case None => LEmpty
      }
  }

  private final class ErrorCounter { var n: Long = 0L }

  /** One record's sanitised fields. Keys that clean to the same name
    * keep the LAST value at the FIRST key's position — the rule of
    * `Ingest.canonicalizeJsonLine` and the reference's dict rewrite
    * (data.py:13-120), so the schema names exactly the columns the
    * loaded rows carry.
    */
  private def record(fields: Seq[(String, Lat)], idx: Long): LRecord = {
    val byKey = scala.collection.mutable.LinkedHashMap.empty[String, Lat]
    fields.foreach { case (k, lat) => byKey(k) = lat }
    LRecord(byKey.toVector, byKey.keysIterator.map(_ -> idx).toMap)
  }

  private def foldList(elems: Seq[Any], idx: Long, errors: ErrorCounter): Lat = {
    val lats = elems.map(walk(_, idx, errors))
    val hasRecord = lats.exists(_.isInstanceOf[LRecord])
    if (hasRecord) {
      // dicts win; non-dict elements are type errors (schema.py:725-729)
      errors.n += lats.count(l => !l.isInstanceOf[LRecord] && l != LEmpty)
      lats.collect { case r: LRecord => r: Lat }
        .reduceOption(Lat.merge).getOrElse(LEmpty)
    } else {
      LList(lats.reduceOption(Lat.merge).getOrElse(LEmpty))
    }
  }

  /** `deconstruct_records` (schema.py:486-773) for in-memory records.
    * Non-record top-level entries are excluded and counted as type errors
    * (schema.py:504-508,656-658).
    */
  def deconstructRecords(records: Iterable[Any]): Deconstructed = {
    val errors = new ErrorCounter
    var lat: Lat = LEmpty
    var n = 0L
    var adding = 0L
    records.foreach { rec =>
      rec match {
        case _: scala.collection.Map[_, _] | _: java.util.Map[_, _] =>
          val walked = walk(rec, n, errors)
          val before = fieldCount(lat)
          lat = Lat.merge(lat, walked)
          if (fieldCount(lat) > before) adding += 1
          n += 1
        case _ =>
          errors.n += 1
      }
    }
    Deconstructed(lat, n, errors.n, adding)
  }

  private def fieldCount(lat: Lat): Int = lat match {
    case LRecord(fs, _) => fs.size
    case _ => 0
  }

  // ---------- distributed JSON path ----------

  private def walkJson(node: JsonNode, idx: Long, errors: ErrorCounter): Lat = {
    if (node.isObject) {
      record(node.properties().asScala.toSeq.map { e =>
        Sanitize.cleanFieldKey(e.getKey) -> walkJson(e.getValue, idx, errors)
      }, idx)
    } else if (node.isArray) {
      val elems = node.elements().asScala.toSeq.map(walkJson(_, idx, errors))
      val hasRecord = elems.exists(_.isInstanceOf[LRecord])
      if (hasRecord) {
        errors.n += elems.count(l => !l.isInstanceOf[LRecord] && l != LEmpty)
        elems.collect { case r: LRecord => r: Lat }
          .reduceOption(Lat.merge).getOrElse(LEmpty)
      } else LList(elems.reduceOption(Lat.merge).getOrElse(LEmpty))
    } else if (node.isNull) LEmpty
    else if (node.isTextual) Lat.scalar(TStr)
    else if (node.isBoolean) Lat.scalar(TBool)
    else if (node.isIntegralNumber) Lat.scalar(TInt)
    else if (node.isNumber) Lat.scalar(TFloat)
    else if (node.isBinary) Lat.scalar(TBytes)
    else LEmpty
  }

  /** Distributed single-pass inference over JSON lines. Malformed lines
    * and non-object top-level values land in `typeErrors` (the corrupt-
    * record channel). One narrow pass + tree merge — no shuffle.
    */
  def deconstructJson(ds: Dataset[String]): Deconstructed = {
    val partials = ds.rdd.mapPartitionsWithIndex { (pid, it) =>
      val mapper = new ObjectMapper()
      val errors = new ErrorCounter
      var lat: Lat = LEmpty
      var n = 0L
      var adding = 0L
      // per-partition record indices offset far apart so that
      // first-introduction indices stay distinct across partitions
      val base = pid.toLong << 40
      it.foreach { line =>
        try {
          val node = mapper.readTree(line)
          if (node != null && node.isObject) {
            val walked = walkJson(node, base + n, errors)
            val before = fieldCount(lat)
            lat = Lat.merge(lat, walked)
            if (fieldCount(lat) > before) adding += 1
            n += 1
          } else errors.n += 1
        } catch { case _: Exception => errors.n += 1 }
      }
      Iterator.single(Deconstructed(lat, n, errors.n, adding))
    }
    partials.treeAggregate(Deconstructed(LEmpty, 0, 0, 0))(_.merge(_), _.merge(_))
  }

  // ---------- façade (bigquery/schema.py:615-639 `extract`) ----------

  /** Infer api_repr schema from in-memory records, honoring an existing
    * schema's per-field override.
    */
  def extract(records: Iterable[Any], existing: Seq[FieldRepr],
              forceNumeric: Boolean): Seq[FieldRepr] =
    Widen.condense(deconstructRecords(records).lat, existing, forceNumeric)

  def extract(records: Iterable[Any]): Seq[FieldRepr] =
    extract(records, Nil, forceNumeric = false)

  /** Infer api_repr schema from a DataFrame. The SEARCH_VALUES method of
    * the reference (`get_schema_from_dataframe`,
    * bigquery/schema.py:545-613) — rows → JSON → full-scan inference.
    */
  def extract(df: DataFrame, existing: Seq[FieldRepr]): Seq[FieldRepr] =
    Widen.condense(deconstructJson(df.toJSON).lat, existing, forceNumeric = false)

  /** Distributed inference over raw JSON lines, returning both forms. */
  def inferJson(spark: SparkSession, lines: Dataset[String],
                existing: Seq[FieldRepr] = Nil): (Seq[FieldRepr], StructType) = {
    val repr = Widen.condense(deconstructJson(lines).lat, existing, forceNumeric = false)
    (repr, Widen.toStructType(repr))
  }
}
