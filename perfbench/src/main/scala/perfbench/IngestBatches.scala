package perfbench

import scala.collection.mutable

import graft.ingest.Ingest
import graft.schema.{FieldRepr, SchemaInference}
import graft.warehouse.{QuerySort, SparkWarehouse}
import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A planted field: its raw JSON key and the shape of its values. */
final case class F(key: String, kind: Kind) {
  /** The warehouse's column name: every non-word character becomes `_`,
    * by this benchmark's own regex.
    */
  val clean: String = key.replaceAll("[^A-Za-z0-9_]", "_")
}

sealed trait Kind
object Kind {
  case object Int extends Kind
  /** Ints and floats mixed in one batch: the warehouse must widen to FLOAT. */
  case object Mixed extends Kind
  case object Str extends Kind
  case object StrList extends Kind
  case object IntList extends Kind
  /** A nested dict: the warehouse stores it as a RECORD REPEATED. */
  final case class Rec(fields: Seq[F]) extends Kind
  final case class RecList(fields: Seq[F]) extends Kind

  /** The (type, mode) each shape must be stored as. */
  def expected(k: Kind): (String, String) = k match {
    case Int => ("INTEGER", "NULLABLE")
    case Mixed => ("FLOAT", "NULLABLE")
    case Str => ("STRING", "NULLABLE")
    case StrList => ("STRING", "REPEATED")
    case IntList => ("INTEGER", "REPEATED")
    case _: Rec | _: RecList => ("RECORD", "REPEATED")
  }
}

/** Generated JSON-line records with planted key names, nesting and types.
  * A record is a list of (field, value); values are Long, Double,
  * String, Seq of those, or nested records.
  */
object JsonGen {
  import Kind._
  type Rec0 = Seq[(F, Any)]

  val Geo = F("geo-pt", Rec(Seq(F("lvl", Int), F("zone id", Str))))
  val Base = Seq(F("id", Int), F("n-count", Int), F("amount", Mixed), F("user.name", Str))
  /** Fields that join the tables batch by batch. */
  val Optional = Seq(
    F("tags", StrList), F("scores", IntList),
    F("meta", Rec(Seq(F("src key", Str), F("w", Int), Geo))),
    F("items", RecList(Seq(F("sku", Int), F("q-ty", Int)))),
    F("x 1", Int), F("x-2", Str), F("x3", Mixed))

  private def word(r: scala.util.Random) =
    (1 to 4 + r.nextInt(8)).map(_ => ('a' + r.nextInt(26)).toChar).mkString

  /** A quarter-step value; integral ones are written as JSON ints. */
  private def mixed(r: scala.util.Random, float: Boolean): Double =
    r.nextInt(100000) + (if (float) 0.25 * (1 + r.nextInt(3)) else 0.25 * r.nextInt(4))

  def value(k: Kind, r: scala.util.Random, float: Boolean): Any = k match {
    case Int => r.nextInt(1000000).toLong
    case Mixed => mixed(r, float)
    case Str => word(r)
    case StrList => Seq.fill(1 + r.nextInt(3))(word(r))
    case IntList => Seq.fill(1 + r.nextInt(3))(r.nextInt(1000).toLong)
    case Rec(fs) => record(fs, r, float)
    case RecList(fs) => Seq.fill(1 + r.nextInt(3))(record(fs, r, float))
  }

  def record(fs: Seq[F], r: scala.util.Random, float: Boolean): Rec0 =
    fs.map(f => f -> value(f.kind, r, float))

  private def num(d: Double): String =
    if (d == math.floor(d)) d.toLong.toString else d.toString

  /** The record as the client sends it: raw keys, dicts as dicts. */
  def raw(rec: Rec0): String =
    rec.map { case (f, v) => "\"" + f.key + "\":" + rawValue(v) }.mkString("{", ",", "}")
  private def rawValue(v: Any): String = v match {
    case d: Double => num(d)
    case s: String => "\"" + s + "\""
    case xs: Seq[_] if xs.headOption.exists(_.isInstanceOf[Seq[_]]) =>
      xs.map(x => raw(x.asInstanceOf[Rec0])).mkString("[", ",", "]")
    case xs: Seq[_] if xs.nonEmpty && xs.head.isInstanceOf[(_, _)] => raw(xs.asInstanceOf[Rec0])
    case xs: Seq[_] => xs.map(rawValue).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Bytes of the record as the warehouse serialises it to size chunks:
    * clean keys, floats in FLOAT form, every nested dict a one-element
    * list.
    */
  def storedBytes(rec: Rec0): Long = stored(rec).length.toLong
  private def stored(rec: Rec0): String =
    rec.map { case (f, v) => "\"" + f.clean + "\":" + storedValue(f.kind, v) }
      .mkString("{", ",", "}")
  private def storedValue(k: Kind, v: Any): String = (k, v) match {
    case (Mixed, d: Double) => d.toString
    case (Rec(_), x) => "[" + stored(x.asInstanceOf[Rec0]) + "]"
    case (RecList(_), xs: Seq[_]) => xs.map(x => stored(x.asInstanceOf[Rec0])).mkString("[", ",", "]")
    case (_, s: String) => "\"" + s + "\""
    case (_, xs: Seq[_]) => xs.map(x => storedValue(Str, x)).mkString("[", ",", "]")
    case (_, x) => x.toString
  }

  /** Adds every numeric leaf to `sums` (keyed by clean path) and counts
    * every list element (`path#`).
    */
  def tally(rec: Rec0, prefix: String, sums: mutable.Map[String, BigDecimal]): Unit =
    rec.foreach { case (f, v) =>
      val p = prefix + f.clean
      def add(k: String, x: BigDecimal) = sums(k) = sums.getOrElse(k, BigDecimal(0)) + x
      (f.kind, v) match {
        case (Rec(_), x) => tally(x.asInstanceOf[Rec0], p + ".", sums)
        case (RecList(_), xs: Seq[_]) =>
          add(p + "#", xs.size); xs.foreach(x => tally(x.asInstanceOf[Rec0], p + ".", sums))
        case (_, xs: Seq[_]) =>
          add(p + "#", xs.size); xs.foreach { case n: Long => add(p, n); case _ => () }
        case (_, n: Long) => add(p, n)
        case (_, d: Double) => add(p, BigDecimal(d))
        case _ => ()
      }
    }

  /** The same tally over a stored row, walking Spark's Row values. */
  def tallyRow(row: Row, st: StructType, prefix: String,
               sums: mutable.Map[String, BigDecimal]): Unit =
    st.fields.zipWithIndex.foreach { case (sf, i) =>
      val p = prefix + sf.name
      def add(k: String, x: BigDecimal) = sums(k) = sums.getOrElse(k, BigDecimal(0)) + x
      if (!row.isNullAt(i)) (sf.dataType, row.get(i)) match {
        case (ArrayType(s: StructType, _), xs: scala.collection.Seq[_]) =>
          add(p + "#", xs.size)
          xs.foreach(x => tallyRow(x.asInstanceOf[Row], s, p + ".", sums))
        case (ArrayType(_, _), xs: scala.collection.Seq[_]) =>
          add(p + "#", xs.size); xs.foreach { case n: Long => add(p, n); case _ => () }
        case (_, n: Long) => add(p, n)
        case (_, n: Int) => add(p, n)
        case (_, d: Double) => add(p, BigDecimal(d))
        case _ => ()
      }
    }
}

/** The ingest stage of the curate workload: generated JSON-line batches
  * loaded through `loadJson`, and through `Ingest.prepareJson` + `load`
  * with a small size limit, each after an explicit `inferJson` and
  * followed by a small read. Schema inference, key sanitising and
  * chunking do most of the work; every load appends.
  */
final class IngestBatches(run: Run) {
  import JsonGen._
  import run.{op, ok, rows, spark}

  private val Plain = Seq("events_a", "events_b", "events_c")
  private val Chunked = "events_chunked"
  /** Small enough to split every batch into several chunks. */
  private val SizeLimit = 24L * 1024
  private val BatchSizes = Seq(150, 300, 600, 1200)
  private var wh: SparkWarehouse = _

  // the expected state, per table
  private val nextId = mutable.Map.empty[String, Long]
  private val rowsLoaded = mutable.Map.empty[String, Long]
  private val sums = mutable.Map.empty[String, mutable.Map[String, BigDecimal]]
  private val seen = mutable.Map.empty[String, mutable.LinkedHashSet[F]]
  private val lastBatch = mutable.Map.empty[String, Seq[Rec0]]
  /** Σ ⌈stored bytes ÷ limit⌉ over the chunked table's batches. */
  private var minChunks = 0L

  def tables: Seq[String] = Plain :+ Chunked

  def setup(w: SparkWarehouse): Unit = {
    wh = w
    Seq(nextId, rowsLoaded, sums, seen, lastBatch).foreach(_.clear())
    minChunks = 0
    // schemaless tables: every column arrives with a load
    tables.foreach(t => ok(wh.create(t)))
  }

  /** Builds a batch: the base fields plus a seeded subset of the optional
    * ones; the first record carries a non-integral float in every mixed
    * field, so a batch always infers FLOAT for them.
    */
  private def batch(t: String, n: Int): (Seq[Rec0], Seq[String]) = run.gen {
    val r = new scala.util.Random(run.rng.nextLong())
    val opt = Optional.filter(_ => r.nextInt(3) > 0)
    val recs = (0 until n).map { i =>
      val id = nextId.getOrElse(t, 0L) + i + 1
      val fs = Base.tail ++ opt.filter(_ => i == 0 || r.nextInt(5) > 0)
      (F("id", Kind.Int) -> id) +: record(fs, r, float = i == 0)
    }
    (recs, recs.map(raw))
  }

  private def expectFields(fs: Iterable[F], got: Seq[FieldRepr], where: String): Unit = {
    val want = fs.map(f => f.clean -> f).toMap
    run.check(got.map(_.name).toSet == want.keySet,
      s"$where: columns ${got.map(_.name).sorted} != planted ${want.keySet.toSeq.sorted}")
    got.foreach { fr =>
      want.get(fr.name).foreach { f =>
        val (ty, mode) = Kind.expected(f.kind)
        run.check(fr.fieldType == ty && fr.mode == mode,
          s"$where: ${fr.name} is ${fr.fieldType} ${fr.mode}, planted $ty $mode")
        f.kind match {
          case Kind.Rec(sub) => expectFields(sub, fr.fields, s"$where.${fr.name}")
          case Kind.RecList(sub) => expectFields(sub, fr.fields, s"$where.${fr.name}")
          case _ => ()
        }
      }
    }
  }

  private def fieldsOf(recs: Seq[Rec0]): Seq[F] = recs.flatMap(_.map(_._1)).distinct

  /** Infer, load, then read back the newest rows. */
  private def loadBatch(t: String, n: Int): Unit = {
    val (recs, lines) = batch(t, n)
    val ds = run.gen(spark.createDataset(lines)(Encoders.STRING))
    val bytes = lines.map(_.length.toLong).sum
    val sized = t == Chunked

    op(OpClass.Step, "schema", "infer_json") {
      SchemaInference.inferJson(spark, ds)._1
    }.foreach(inferred => run.checking(expectFields(fieldsOf(recs), inferred, s"inferJson($t)")))

    val loaded = op(OpClass.Write, "warehouse", "load") {
      run.tracer.note("input_bytes", bytes.toDouble)
      if (!sized) ok(wh.loadJson(t, lines))
      else {
        run.tracer.note("size_limit", SizeLimit.toDouble)
        run.tracer.note("json_bytes", recs.map(storedBytes).sum.toDouble)
        val df = run.tracer.span("ingest", "prepare_json")(Ingest.prepareJson(spark, ds))
        ok(wh.load(t, df, sizeLimit = SizeLimit))
      }
    }
    loaded.foreach { n1 =>
      run.check(n1 == n, s"load($t) reported $n1 rows for a batch of $n")
      run.inputBytes += bytes
      nextId(t) = nextId.getOrElse(t, 0L) + n
      rowsLoaded(t) = rowsLoaded.getOrElse(t, 0L) + n
      val s = sums.getOrElseUpdate(t, mutable.Map.empty)
      recs.foreach(tally(_, "", s))
      seen.getOrElseUpdate(t, mutable.LinkedHashSet.empty) ++= fieldsOf(recs)
      lastBatch(t) = recs
      if (sized) minChunks += (recs.map(storedBytes).sum + SizeLimit - 1) / SizeLimit
    }

    op(OpClass.Read, "warehouse", "fetch") {
      rows(ok(wh.fetch(t, Seq("id", "n_count", "amount"), Seq(("id", QuerySort.Desc)), 5)))
    }.foreach(got => run.checking {
      val want = lastBatch(t).takeRight(5).reverse.map { rec =>
        val m = rec.map { case (f, v) => f.clean -> v }.toMap
        (m("id"), m("n_count"), m("amount"))
      }
      val have = got.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      run.check(have == want, s"fetch($t) newest rows $have != $want")
    })
  }

  private def describe(t: String): Unit =
    op(OpClass.Read, "warehouse", "describe") {
      ok(wh.describe(t))
    }.foreach(text => run.checking(seen(t).foreach(f =>
      run.check(text.contains(f.clean), s"describe($t) lacks ${f.clean}"))))

  def round(): Unit = {
    // the four batch sizes are dealt to the four tables in a seeded
    // order, then one table is described
    val sizes = run.rng.shuffle(BatchSizes)
    run.rng.shuffle(tables).zip(sizes).foreach { case (t, n) => loadBatch(t, n) }
    describe(tables(run.rng.nextInt(tables.size)))
  }

  def verify(): Unit = tables.foreach { t =>
    val df = ok(wh.get(t))
    val all = df.collect()
    val observed =
      if (run.inject("ingest-drop-row") && t == Plain.head) all.drop(1) else all
    val schema =
      if (run.inject("ingest-extra-column") && t == Plain.head)
        df.schema.add(StructField("extra", LongType))
      else df.schema
    run.check(observed.length == rowsLoaded(t),
      s"$t holds ${observed.length} rows, ${rowsLoaded(t)} were loaded")
    val got = mutable.Map.empty[String, BigDecimal]
    observed.foreach(r => tallyRow(r, df.schema, "", got))
    if (run.inject("ingest-truncate-value") && t == Plain.head)
      got("amount") = got("amount").setScale(0, BigDecimal.RoundingMode.DOWN)
    sums(t).foreach { case (k, v) =>
      run.check(got.getOrElse(k, BigDecimal(0)) == v, s"$t: sum of $k is ${got.get(k)}, planted $v")
    }
    run.check(schema.fieldNames.toSet == seen(t).map(_.clean).toSet,
      s"$t: columns ${schema.fieldNames.sorted.mkString(",")} != planted " +
        seen(t).map(_.clean).toSeq.sorted.mkString(","))
    expectFields(seen(t), ok(wh.meta(t)).schema, s"meta($t)")

    if (t == Chunked) {
      val perFile = df.select(input_file_name().as("f"),
          octet_length(to_json(struct(df.columns.map(c => col(s"`$c`")).toSeq: _*))).as("b"))
        .groupBy("f").agg(sum("b").as("b")).collect().map(r => r.getLong(1))
      val sizes = if (run.inject("ingest-chunk-over-limit")) perFile :+ (SizeLimit + 1) else perFile
      run.check(sizes.forall(_ <= SizeLimit),
        s"$t: a chunk holds ${sizes.max} JSON bytes, limit $SizeLimit")
      run.check(sizes.length >= minChunks,
        s"$t: ${sizes.length} files, at least $minChunks needed at limit $SizeLimit")
    }
  }
}
