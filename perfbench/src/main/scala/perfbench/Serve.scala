package perfbench

import java.time.LocalDate

import graft.warehouse.{QuerySort, SparkWarehouse}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

object Mix {
  /** SplitMix64 finaliser: a well-mixed 64-bit hash of `z0`. */
  def apply(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def mod(x: Long, m: Long): Long = java.lang.Math.floorMod(x, m)
}

final case class Line(orderkey: Long, linenumber: Long, partkey: Long,
                      suppkey: Long, quantity: Long, price: Long,
                      discount: Long, flag: String, shipdate: Long,
                      comment: String)

final case class Order(orderkey: Long, custkey: Long, status: String,
                       total: Long, orderdate: Long, comment: String)

final case class Cust(custkey: Long, name: String, segment: String, acctbal: Long)

/** TPC-H-shaped `orders` and `lineitem`: every row is a pure function of
  * (seed, key), so the benchmark can compute any expected answer by
  * itself, without Spark. Prices are integral cents and dates are epoch
  * days, so every sum is exact.
  */
final class ServeGen(seed: Long, val nOrders: Long) extends Serializable {
  import Mix.mod
  private val s0 = Mix(seed)
  private def h(a: Long, b: Long, salt: Long): Long =
    Mix(s0 ^ Mix(a * 0x100000001B3L + b * 0x1F3L + salt * 0x632BE59BD9B4E019L))

  val BaseDay = 8035L // 1992-01-01
  private val Flags = Array("A", "N", "R")
  private val Status = Array("F", "O", "P")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Customers: Long = nOrders / 5

  def orderdate(o: Long): Long = BaseDay + (o - 1) * 2400 / nOrders + mod(h(o, 0, 1), 30)
  def nLines(o: Long): Int = 1 + mod(h(o, 0, 2), 7).toInt
  /** A wide domain: a file holds a few percent of the part keys, so bloom
    * sidecars can skip most files for a point lookup.
    */
  def partkey(o: Long, l: Long): Long = 1 + mod(h(o, l, 4), 1000000)
  def shipdate(o: Long, l: Long): Long = orderdate(o) + 1 + mod(h(o, l, 9), 120)

  def word(x: Long): String = {
    val n = 8 + mod(x, 17).toInt
    val sb = new StringBuilder(n)
    var z = x
    for (_ <- 0 until n) { z = Mix(z); sb += ('a' + mod(z, 26)).toChar }
    sb.toString
  }

  def line(o: Long, l: Long): Line = {
    val q = 1 + mod(h(o, l, 3), 50)
    Line(o, l, partkey(o, l), 1 + mod(h(o, l, 5), 1000), q,
      q * (90000 + mod(h(o, l, 6), 10000)), mod(h(o, l, 7), 11),
      Flags(mod(h(o, l, 8), 3).toInt), shipdate(o, l), word(h(o, l, 10)))
  }

  def order(o: Long): Order =
    Order(o, 1 + mod(h(o, 0, 11), Customers), Status(mod(h(o, 0, 12), 3).toInt),
      1000 + mod(h(o, 0, 13), 50000000), orderdate(o), word(h(o, 0, 14)))

  def cust(c: Long): Cust =
    Cust(c, word(h(c, 0, 15)), Segments(mod(h(c, 0, 16), 5).toInt), mod(h(c, 0, 17), 1000000))
  def baseCust(c: Long): Option[Cust] = if (c >= 1 && c <= Customers) Some(cust(c)) else None

  def baseLine(o: Long, l: Long): Option[Line] =
    if (o >= 1 && o <= nOrders && l >= 1 && l <= nLines(o)) Some(line(o, l)) else None
  def baseOrder(o: Long): Option[Order] =
    if (o >= 1 && o <= nOrders) Some(order(o)) else None

  def lines(o: Long): Iterator[Line] = (1 to nLines(o)).iterator.map(l => line(o, l.toLong))
}

object ServeGen {
  val LineSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", LongType),
    StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
    StructField("l_quantity", LongType), StructField("l_extendedprice", LongType),
    StructField("l_discount", LongType), StructField("l_returnflag", StringType),
    StructField("l_shipdate", DateType), StructField("l_comment", StringType)))
  val OrderSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", LongType),
    StructField("o_orderdate", DateType), StructField("o_comment", StringType)))
  val CustSchema = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_mktsegment", StringType), StructField("c_acctbal", LongType)))

  def date(d: Long): java.sql.Date = java.sql.Date.valueOf(LocalDate.ofEpochDay(d))

  def row(x: Line): Row = Row(x.orderkey, x.linenumber, x.partkey, x.suppkey,
    x.quantity, x.price, x.discount, x.flag, date(x.shipdate), x.comment)
  def row(x: Order): Row = Row(x.orderkey, x.custkey, x.status, x.total,
    date(x.orderdate), x.comment)
  def row(x: Cust): Row = Row(x.custkey, x.name, x.segment, x.acctbal)

  /** Bytes of the row as JSON, the way Spark's `to_json` writes it. */
  def json(x: Order): Long =
    (s"""{"o_orderkey":${x.orderkey},"o_custkey":${x.custkey},""" +
      s""""o_orderstatus":"${x.status}","o_totalprice":${x.total},""" +
      s""""o_orderdate":"${LocalDate.ofEpochDay(x.orderdate)}","o_comment":"${x.comment}"}""")
      .length.toLong
  def json(x: Cust): Long =
    (s"""{"c_custkey":${x.custkey},"c_name":"${x.name}","c_mktsegment":"${x.segment}",""" +
      s""""c_acctbal":${x.acctbal}}""").length.toLong
  def json(x: Line): Long =
    (s"""{"l_orderkey":${x.orderkey},"l_linenumber":${x.linenumber},""" +
      s""""l_partkey":${x.partkey},"l_suppkey":${x.suppkey},"l_quantity":${x.quantity},""" +
      s""""l_extendedprice":${x.price},"l_discount":${x.discount},""" +
      s""""l_returnflag":"${x.flag}","l_shipdate":"${LocalDate.ofEpochDay(x.shipdate)}",""" +
      s""""l_comment":"${x.comment}"}""").length.toLong

  def num(r: Row, f: String): Long = r.getAs[Any](f) match {
    case n: Number => n.longValue
    case other => throw new IllegalStateException(s"$f is not numeric: $other")
  }
  def day(r: Row, f: String): Long = r.getAs[Any](f) match {
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case d: LocalDate => d.toEpochDay
    case other => throw new IllegalStateException(s"$f is not a date: $other")
  }
  def lineOf(r: Row): Line = Line(num(r, "l_orderkey"), num(r, "l_linenumber"),
    num(r, "l_partkey"), num(r, "l_suppkey"), num(r, "l_quantity"),
    num(r, "l_extendedprice"), num(r, "l_discount"), r.getAs[String]("l_returnflag"),
    day(r, "l_shipdate"), r.getAs[String]("l_comment"))
  def custOf(r: Row): Cust = Cust(num(r, "c_custkey"), r.getAs[String]("c_name"),
    r.getAs[String]("c_mktsegment"), num(r, "c_acctbal"))
  def orderOf(r: Row): Order = Order(num(r, "o_orderkey"), num(r, "o_custkey"),
    r.getAs[String]("o_orderstatus"), num(r, "o_totalprice"), day(r, "o_orderdate"),
    r.getAs[String]("o_comment"))

  /** Order-independent checksum and row count, computed by Spark over
    * canonical column types.
    */
  def checksum(df: DataFrame, schema: StructType): (Long, BigDecimal) = {
    val h = xxhash64(schema.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }
}

/** Reads and rewrites over a warehouse holding `lineitem`, `orders` and
  * `customer` (TPC-H-shaped, scale factor 0.01: 60 k, 15 k and 3 k
  * rows): about six reads to one write, with zone maps, bloom sidecars,
  * merge-on-read DML, time travel and CDC. `lineitem` takes the scans;
  * `orders` takes the copy-on-write upserts, which time travel and CDC
  * then read; `customer` takes merge-on-read deletes and updates, which
  * the three-way join then reads through.
  */
final class Serve(run: Run) extends Workload {
  import ServeGen._
  import run.{op, ok, rows, spark}

  private val Orders = 15000L
  private val g = new ServeGen(run.args.seed, Orders)
  private val ChunkBytes = 1L << 20
  /** Orders per join read and per upsert's key range. */
  private val Window = 2000L
  private val srcLines = s"${run.args.root}/src/lineitem"
  private val srcOrders = s"${run.args.root}/src/orders"
  private val srcCust = s"${run.args.root}/src/customer"
  private var baseBytes = 0L
  private var wh: SparkWarehouse = _

  // the expected state: keys edited since the base load, None = deleted
  private var liDelta = Map.empty[(Long, Long), Option[Line]]
  private var ordDelta = Map.empty[Long, Option[Order]]
  private var custDelta = Map.empty[Long, Option[Cust]]
  /** `orders` edits as of each of its generations. */
  private var ordGens = Map.empty[Long, Map[Long, Option[Order]]]
  private var prevGen = -1L
  private var curGen = -1L
  private var lastUpserted = Seq.empty[Long]
  private var upserts = 0L

  def tables: Seq[String] = Seq("lineitem", "orders", "customer")

  /** Two: each set-up loads three tables and builds three sidecars. */
  override def setupReps: Int = 2

  def generate(): Unit = run.gen {
    val parts = 2 * run.args.cores
    val gl = g
    spark.createDataFrame(spark.sparkContext.range(1, Orders + 1, 1, parts)
      .flatMap(o => gl.lines(o).map(ServeGen.row)), LineSchema)
      .write.parquet(srcLines)
    spark.createDataFrame(spark.sparkContext.range(1, Orders + 1, 1, parts)
      .map(o => ServeGen.row(gl.order(o))), OrderSchema)
      .write.parquet(srcOrders)
    spark.createDataFrame(spark.sparkContext.range(1, g.Customers + 1, 1, parts)
      .map(c => ServeGen.row(gl.cust(c))), CustSchema)
      .write.parquet(srcCust)
    baseBytes = (1L to Orders).iterator.map(o => json(g.order(o)) + g.lines(o).map(json).sum).sum +
      (1L to g.Customers).iterator.map(c => json(g.cust(c))).sum
  }

  def setup(w: SparkWarehouse): Unit = {
    wh = w
    def span[A](verb: String)(body: => A): A = run.tracer.span("warehouse", verb)(body)
    // 1 MiB chunks: `lineitem` lands in about ten files, so zone maps and
    // blooms have files to skip
    span("load")(ok(wh.load("lineitem", spark.read.parquet(srcLines), sizeLimit = ChunkBytes)))
    span("load")(ok(wh.load("orders", spark.read.parquet(srcOrders), sizeLimit = ChunkBytes)))
    span("load")(ok(wh.load("customer", spark.read.parquet(srcCust))))
    span("analyze")(ok(wh.analyzeStats("lineitem")))
    span("analyze")(ok(wh.analyzeBloom("lineitem", Seq("l_partkey"))))
    span("analyze")(ok(wh.analyzeStats("orders")))
    run.inputBytes = baseBytes
    liDelta = Map.empty; ordDelta = Map.empty; custDelta = Map.empty
    upserts = 0; lastUpserted = Nil
    curGen = wh.currentGeneration("orders").getOrElse(-1L)
    prevGen = curGen
    ordGens = Map(curGen -> ordDelta)
  }

  // ---- expected answers, computed from the generator ----

  private def liState(k: (Long, Long)): Option[Line] =
    liDelta.getOrElse(k, g.baseLine(k._1, k._2))
  private def ordState(o: Long): Option[Order] = ordDelta.getOrElse(o, g.baseOrder(o))
  private def custState(c: Long): Option[Cust] = custDelta.getOrElse(c, g.baseCust(c))

  // the base table's key, sort and aggregate columns, for expected
  // answers that need a pass over every row
  private lazy val (bo, bl, bp, bs) = {
    val n = (1L to Orders).map(o => g.nLines(o)).sum
    val (o1, l1, p1, s1) = (new Array[Long](n), new Array[Long](n),
      new Array[Long](n), new Array[Long](n))
    var i = 0
    for (o <- 1L to Orders; l <- 1L to g.nLines(o).toLong) {
      o1(i) = o; l1(i) = l; p1(i) = g.partkey(o, l); s1(i) = g.shipdate(o, l); i += 1
    }
    (o1, l1, p1, s1)
  }
  private lazy val shipDesc = bs.sorted(Ordering.Long.reverse)

  /** Every live line of the expected table whose base row passes `keep`
    * (edited rows are always considered), one pass plus edits. Edits
    * change neither part keys nor ship dates.
    */
  private def allLines(keep: Int => Boolean): Iterator[Line] =
    bo.indices.iterator.filter(i => keep(i) && !liDelta.contains((bo(i), bl(i))))
      .map(i => g.line(bo(i), bl(i))) ++ liDelta.valuesIterator.flatten

  /** Expected lines of orders [lo, hi]; edits never add line numbers. */
  private def linesIn(lo: Long, hi: Long): Seq[Line] =
    (lo to hi).flatMap(o => (1L to 7L).flatMap(l => liState((o, l))))

  private def same[A](what: String, got: Seq[A], want: Seq[A])(implicit o: Ordering[A]): Unit = {
    val (g1, w1) = (got.sorted, want.sorted)
    run.check(g1 == w1, s"$what: ${g1.size} rows differ from the ${w1.size} expected")
  }
  private implicit val lineOrder: Ordering[Line] = Ordering.by(x => (x.orderkey, x.linenumber))
  private implicit val orderOrder: Ordering[Order] = Ordering.by(_.orderkey)

  // ---- reads ----

  private def fetchTop(): Unit = {
    val fields = Seq("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
    op(OpClass.Read, "warehouse", "fetch") {
      rows(ok(wh.fetch("lineitem", fields, Seq(("l_shipdate", QuerySort.Desc),
        ("l_orderkey", QuerySort.Asc), ("l_linenumber", QuerySort.Asc)), 20)))
    }.foreach(got => verifySome {
      val ord = Ordering.by((x: Line) => (-x.shipdate, x.orderkey, x.linenumber))
      // at most one base row per edited key leaves the top 20
      val cut = shipDesc(19 + liDelta.size)
      val want = allLines(i => bs(i) >= cut).toSeq.sorted(ord).take(20)
        .map(x => (x.orderkey, x.linenumber, x.shipdate, x.quantity))
      val have = got.toSeq.map(r => (num(r, "l_orderkey"), num(r, "l_linenumber"),
        day(r, "l_shipdate"), num(r, "l_quantity")))
      run.check(have == want, s"fetch top-20 differs: $have vs $want")
    })
  }

  private def scanClustered(): Unit = {
    val lo = 1 + run.rng.nextInt((Orders - 40).toInt).toLong
    op(OpClass.Read, "warehouse", "scan_pruned") {
      rows(ok(wh.scanPruned("lineitem", col("l_orderkey").between(lo, lo + 39))))
    }.foreach(got => verifySome(same(s"scanPruned(l_orderkey in [$lo, ${lo + 39}])",
      got.toSeq.map(lineOf), linesIn(lo, lo + 39))))
  }

  private def scanBloom(): Unit = {
    // the part key of an existing line, so the lookup finds rows
    val p = g.partkey(1 + run.rng.nextInt(Orders.toInt), 1)
    op(OpClass.Read, "warehouse", "scan_pruned") {
      rows(ok(wh.scanPruned("lineitem", col("l_partkey") === p)))
    }.foreach(got => verifySome(same(s"scanPruned(l_partkey = $p)",
      got.toSeq.map(lineOf), allLines(i => bp(i) == p).filter(_.partkey == p).toSeq)))
  }

  private def sqlAggregate(): Unit = {
    val d = g.BaseDay + 600 + run.rng.nextInt(1500)
    op(OpClass.Read, "warehouse", "query") {
      rows(wh.query(
        s"""SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q,
           |sum(l_extendedprice) AS p FROM lineitem
           |WHERE l_shipdate >= DATE '${LocalDate.ofEpochDay(d)}'
           |GROUP BY l_returnflag""".stripMargin))
    }.foreach(got => verifySome {
      val want = allLines(i => bs(i) >= d).filter(_.shipdate >= d).toSeq.groupBy(_.flag)
        .map { case (f, xs) => (f, xs.size.toLong, xs.map(_.quantity).sum, xs.map(_.price).sum) }
        .toSeq
      same(s"aggregate since day $d",
        got.toSeq.map(r => (r.getString(0), num(r, "n"), num(r, "q"), num(r, "p"))), want)
    })
  }

  private def sqlJoin(): Unit = {
    val lo = 1 + run.rng.nextInt((Orders - Window).toInt).toLong
    val hi = lo + Window - 1
    op(OpClass.Read, "warehouse", "query") {
      rows(wh.query(
        s"""SELECT c.c_mktsegment, count(*) AS n, sum(l.l_quantity) AS q
           |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           |JOIN customer c ON o.o_custkey = c.c_custkey
           |WHERE o.o_orderkey BETWEEN $lo AND $hi
           |GROUP BY c.c_mktsegment""".stripMargin))
    }.foreach(got => verifySome {
      val want = (lo to hi).flatMap(o => ordState(o).flatMap(ord => custState(ord.custkey))
          .toSeq.flatMap(c => (1L to 7L).flatMap(l => liState((o, l))).map(x => (c.segment, x.quantity))))
        .groupBy(_._1).map { case (s, xs) => (s, xs.size.toLong, xs.map(_._2).sum) }.toSeq
      same(s"join over orders [$lo, $hi]",
        got.toSeq.map(r => (r.getString(0), num(r, "n"), num(r, "q"))), want)
    })
  }

  /** `orders` as of the generation before the latest upsert, around a key
    * that upsert changed.
    */
  private def asOf(): Unit = {
    val gen = prevGen
    val lo = if (lastUpserted.isEmpty) 1L else lastUpserted(run.rng.nextInt(lastUpserted.size))
    val stale = run.inject("serve-stale-snapshot")
    op(OpClass.Read, "warehouse", "get_as_of") {
      rows(ok(wh.getAsOf("orders", gen)).filter(col("o_orderkey").between(lo, lo + 9)))
    }.foreach { got =>
      val have = got.toSeq.map(orderOf)
      val observed =
        if (stale && have.nonEmpty) have.updated(0, have.head.copy(total = have.head.total + 1))
        else have
      val snap = ordGens(gen)
      verifySome(same(s"getAsOf(orders, gen $gen, o_orderkey in [$lo, ${lo + 9}])",
        observed, (lo to lo + 9).flatMap(o => snap.getOrElse(o, g.baseOrder(o)))),
        always = stale)
    }
  }

  private def changes(): Unit = {
    val (from, to) = (prevGen, curGen)
    op(OpClass.Read, "warehouse", "changes_between") {
      rows(ok(wh.changesBetween("orders", from, to)))
    }.foreach(got => verifySome {
      val (d1, d2) = (ordGens(from), ordGens(to))
      val want = (d1.keySet ++ d2.keySet).toSeq.flatMap { k =>
        val s1 = d1.getOrElse(k, g.baseOrder(k))
        val s2 = d2.getOrElse(k, g.baseOrder(k))
        if (s1 == s2) Nil
        else s1.map(("delete", _)).toSeq ++ s2.map(("insert", _)).toSeq
      }
      same(s"changesBetween(orders, $from, $to)",
        got.toSeq.map(r => (r.getAs[String]("change_type"), orderOf(r))), want)
    })
  }

  // ---- writes ----

  private def upsert(): Unit = {
    val batch = run.gen {
      // updates land on a window of consecutive orders (recent orders
      // are the ones that change); new orders take fresh keys
      val window = 1 + run.rng.nextInt((Orders - Window).toInt).toLong
      val edits = (1 to 15).map { _ =>
        val o = window + run.rng.nextInt(Window.toInt)
        g.order(o).copy(total = 1000 + run.rng.nextInt(50000000), status = "U",
          comment = s"upsert$upserts")
      } ++ (1 to 5).map(i => g.order(Orders + upserts * 5 + i))
      edits.groupBy(_.orderkey).values.map(_.last).toSeq
    }
    val df = run.gen(spark.createDataFrame(
      java.util.Arrays.asList(batch.map(ServeGen.row): _*), OrderSchema))
    val bytes = batch.map(ServeGen.json).sum
    op(OpClass.Write, "warehouse", "upsert") {
      run.tracer.note("input_bytes", bytes.toDouble)
      ok(wh.upsert("orders", df, Seq("o_orderkey")))
    }.foreach { _ =>
      upserts += 1
      run.inputBytes += bytes
      ordDelta ++= batch.map(x => x.orderkey -> Some(x))
      lastUpserted = batch.map(_.orderkey).filter(_ <= Orders - 10)
      prevGen = curGen
      curGen = wh.currentGeneration("orders").getOrElse(-1L)
      ordGens += curGen -> ordDelta
    }
  }

  /** Sidecars after the upserts: `orders` stats cover rewritten files,
    * `lineitem` blooms are already current.
    */
  private def analyze(): Unit = {
    op(OpClass.Step, "warehouse", "analyze")(ok(wh.analyzeStats("orders")))
    op(OpClass.Step, "warehouse", "analyze")(ok(wh.analyzeBloom("lineitem", Seq("l_partkey"))))
  }

  /** Ten random customers. */
  private def custKeys(): Seq[Long] =
    run.gen(Seq.fill(10)(1 + run.rng.nextInt(g.Customers.toInt).toLong).distinct)

  private def deleteMor(): Unit = {
    val keys = custKeys()
    op(OpClass.Write, "warehouse", "delete_mor") {
      ok(wh.deleteWhereMor("customer", col("c_custkey").isin(keys: _*)))
    }.foreach(_ => custDelta ++= keys.map(_ -> None))
  }

  private def updateMor(): Unit = {
    val keys = custKeys()
    op(OpClass.Write, "warehouse", "update_mor") {
      ok(wh.updateWhereMor("customer", Map("c_acctbal" -> (col("c_acctbal") + 100),
        "c_mktsegment" -> lit("UPDATED")), col("c_custkey").isin(keys: _*)))
    }.foreach(_ => custDelta ++= keys.map(k =>
      k -> custState(k).map(c => c.copy(acctbal = c.acctbal + 100, segment = "UPDATED"))))
  }

  /** Bin-packs `customer`'s small files, materialising pending deletes. */
  private def compact(): Unit =
    op(OpClass.Write, "warehouse", "compact")(ok(wh.compactSmall("customer")))

  /** Verifies a seeded quarter of the reads (all of them when untimed). */
  private def verifySome(body: => Unit, always: Boolean = false): Unit =
    if (always || !run.timing || run.rng.nextInt(4) == 0) run.checking(body)

  /** Point and range reads, five of each per round. */
  private val lightReads: Seq[() => Unit] = Seq(() => fetchTop(), () => scanClustered(),
    () => scanBloom(), () => asOf())
  /** Whole-table SQL and CDC, one of each per round. */
  private val heavyReads: Seq[() => Unit] = Seq(() => sqlAggregate(), () => sqlJoin(),
    () => changes())
  private val writes: Seq[() => Unit] = Seq(() => upsert(), () => analyze(),
    () => deleteMor(), () => updateMor(), () => compact())

  def warm(): Unit = round()

  def round(): Unit = {
    // twenty point and range reads and three whole-table reads in a
    // seeded order; the four commits and the analyze calls keep fixed
    // slots, so what each write finds to rewrite is the same every round
    val reads = run.rng.shuffle(Seq.fill(5)(lightReads).flatten ++ heavyReads)
    reads.zipWithIndex.foreach { case (read, i) =>
      WriteSlots.get(i).foreach(_())
      read()
    }
  }
  private val WriteSlots: Map[Int, () => Unit] =
    Seq(2, 7, 12, 17, 21).zip(writes).toMap

  private def expect(src: String, schema: StructType, keyCols: Seq[String],
                     keys: Seq[Row], live: Seq[Row]): DataFrame = {
    val keyDf = spark.createDataFrame(java.util.Arrays.asList(keys: _*),
      StructType(keyCols.map(c => schema(c))))
    spark.read.parquet(src).join(keyDf, keyCols, "left_anti")
      .unionByName(spark.createDataFrame(java.util.Arrays.asList(live: _*), schema))
  }

  def verify(): Unit = {
    val got = ok(wh.get("lineitem"))
    val observed =
      if (!run.inject("serve-drop-row")) got
      else got.filter(!(col("l_orderkey") === 2L && col("l_linenumber") === 1L))
    val (n1, s1) = checksum(observed, LineSchema)
    val (n2, s2) = checksum(expect(srcLines, LineSchema, Seq("l_orderkey", "l_linenumber"),
      liDelta.keys.toSeq.map { case (o, l) => Row(o, l) },
      liDelta.values.flatten.toSeq.map(ServeGen.row)), LineSchema)
    run.check(n1 == n2 && s1 == s2,
      s"lineitem final contents: $n1 rows (checksum $s1), expected $n2 ($s2)")

    val (m1, t1) = checksum(ok(wh.get("orders")), OrderSchema)
    val (m2, t2) = checksum(expect(srcOrders, OrderSchema, Seq("o_orderkey"),
      ordDelta.keys.toSeq.map(Row(_)), ordDelta.values.flatten.toSeq.map(ServeGen.row)),
      OrderSchema)
    run.check(m1 == m2 && t1 == t2,
      s"orders final contents: $m1 rows (checksum $t1), expected $m2 ($t2)")

    val (k1, u1) = checksum(ok(wh.get("customer")), CustSchema)
    val (k2, u2) = checksum(expect(srcCust, CustSchema, Seq("c_custkey"),
      custDelta.keys.toSeq.map(Row(_)), custDelta.values.flatten.toSeq.map(ServeGen.row)),
      CustSchema)
    run.check(k1 == k2 && u1 == u2,
      s"customer final contents: $k1 rows (checksum $u1), expected $k2 ($u2)")
  }
}
