package graft.warehouse

import graft.ingest.{Chunker, Ingest}
import graft.schema.{FieldRepr, SchemaCodec, Widen}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.jdbc.JdbcDialects

import java.sql.{Connection, DriverManager}
import java.time.Instant

/** The swap-the-subclass backend the reference's ABC promises
  * (`classes.py:18-64`; Redshift/Snowflake are declared-but-stubbed slots,
  * `redshift/__init__.py:7-11`): the same [[Warehouse]] surface over any
  * JDBC database through Spark's JDBC source — embedded Derby in the
  * gates, a warehouse-grade JDBC endpoint on a cluster.
  *
  * Storage mapping: tables are database tables (written via Spark's
  * batched JDBC insert, read via the JDBC scan with predicate pushdown);
  * schema + expiry metadata live in a `graft_meta` bookkeeping table
  * (the sidecar analog). Identifiers are used UNQUOTED throughout so the
  * database's case folding is applied consistently on both the write and
  * read paths (Derby folds to upper case).
  *
  * Scale notes: the JDBC writer parallelizes per partition (one insert
  * connection per task), so [[load]] keeps the same greedy size-bounded
  * chunk → one-partition-per-chunk discipline as the parquet backend —
  * each task ships ≤ `sizeLimit` of row payload per batch. [[upsert]]
  * materializes the merged table to a staging table and swaps by rename
  * (never an in-place overwrite of a table being read — the same
  * self-overwrite hazard the parquet backend's materializeSwap avoids).
  */
final class JdbcWarehouse(val spark: SparkSession, val url: String)
    extends Warehouse {

  private val MetaTable = "graft_meta"
  private val dialect = JdbcDialects.get(url)

  /** Driver-side metadata/DDL connection — bounded bookkeeping rows and
    * DDL statements only; data rows always move through Spark's JDBC
    * source, never this connection.
    */
  private def withConn[A](f: Connection => A): A = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  private def ensureMetaTable(c: Connection): Unit = {
    val rs = c.getMetaData.getTables(null, null, MetaTable.toUpperCase, null)
    val exists = try rs.next() finally rs.close()
    if (!exists) {
      val st = c.createStatement()
      try st.executeUpdate(
        s"CREATE TABLE $MetaTable (name VARCHAR(128) PRIMARY KEY, " +
          "schema_json CLOB, expires_millis BIGINT)")
      finally st.close()
    }
  }

  private def tableExists(c: Connection, name: String): Boolean = {
    val rs = c.getMetaData.getTables(null, null, name.toUpperCase, null)
    try rs.next() finally rs.close()
  }

  private def readMeta(c: Connection, name: String): Option[TableMeta] = {
    ensureMetaTable(c)
    val ps = c.prepareStatement(
      s"SELECT schema_json, expires_millis FROM $MetaTable WHERE name = ?")
    try {
      ps.setString(1, name)
      val rs = ps.executeQuery()
      try {
        if (!rs.next()) None
        else {
          val schema = Option(rs.getString(1)).filter(_.nonEmpty)
            .map(SchemaCodec.fromJson).getOrElse(Nil)
          val expires = { val e = rs.getLong(2); if (rs.wasNull()) None else Some(e) }
          Some(TableMeta(schema, expires))
        }
      } finally rs.close()
    } finally ps.close()
  }

  private def writeMeta(c: Connection, name: String, m: TableMeta): Unit = {
    ensureMetaTable(c)
    val del = c.prepareStatement(s"DELETE FROM $MetaTable WHERE name = ?")
    try { del.setString(1, name); del.executeUpdate() } finally del.close()
    val ins = c.prepareStatement(
      s"INSERT INTO $MetaTable (name, schema_json, expires_millis) VALUES (?, ?, ?)")
    try {
      ins.setString(1, name)
      ins.setString(2, SchemaCodec.toJson(m.schema))
      m.expiresAtMillis match {
        case Some(e) => ins.setLong(3, e)
        case None    => ins.setNull(3, java.sql.Types.BIGINT)
      }
      ins.executeUpdate()
    } finally ins.close()
  }

  private def deleteMeta(c: Connection, name: String): Unit = {
    ensureMetaTable(c)
    val ps = c.prepareStatement(s"DELETE FROM $MetaTable WHERE name = ?")
    try { ps.setString(1, name); ps.executeUpdate() } finally ps.close()
  }

  private def ddl(c: Connection, sql: String): Unit = {
    val st = c.createStatement()
    try st.executeUpdate(sql) finally st.close()
  }

  // ---------- Warehouse core ----------

  def isOnline: Boolean =
    try { withConn(_ => spark.version.nonEmpty) }
    catch { case _: Exception => false }

  def get(name: String): Either[WarehouseError, DataFrame] =
    try {
      withConn { c =>
        if (tableExists(c, name))
          Right(graft.sources.Sources.jdbc(spark, url, name))
        else readMeta(c, name) match {
          // created schemaless (or schema-only): empty frame on the
          // recorded schema, same as the parquet backend
          case Some(m) => Right(spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            Widen.toStructType(m.schema)))
          case None => Left(TableNotFound(name))
        }
      }
    } catch { case e: Exception => Left(TableGenericError(e.getMessage, Some(e))) }

  def meta(name: String): Either[WarehouseError, TableMeta] =
    try {
      withConn(c => readMeta(c, name).toRight(TableNotFound(name)))
    } catch { case e: Exception => Left(TableGenericError(e.getMessage, Some(e))) }

  def create(name: String, schema: Seq[FieldRepr] = Nil, replace: Boolean = false,
             expires: Option[Instant] = None): Either[WarehouseError, TableRef] =
    try {
      withConn { c =>
        val exists = tableExists(c, name) || readMeta(c, name).isDefined
        if (exists && !replace)
          Left(TableGenericError(s"table $name already exists (Conflict)"))
        else {
          val effectiveSchema =
            if (schema.nonEmpty) schema
            else if (exists && replace) readMeta(c, name).map(_.schema).getOrElse(Nil)
            else Nil
          if (tableExists(c, name)) ddl(c, s"DROP TABLE $name")
          if (effectiveSchema.nonEmpty) {
            val empty = spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              Widen.toStructType(effectiveSchema))
            graft.sources.Sources.writeJdbc(empty, url, name, SaveMode.Overwrite)
          }
          // schemaless create (legal in the reference): meta row only — a
          // relational table needs at least one column
          writeMeta(c, name, TableMeta(effectiveSchema, expires.map(_.toEpochMilli)))
          registerView(name)
          Right(TableRef(name))
        }
      }
    } catch { case e: Exception => Left(TableGenericError(e.getMessage, Some(e))) }

  def drop(name: String, notFoundOk: Boolean = true): Either[WarehouseError, Unit] =
    try {
      withConn { c =>
        val exists = tableExists(c, name) || readMeta(c, name).isDefined
        if (!exists) {
          if (notFoundOk) Right(()) else Left(TableNotFound(name))
        } else {
          if (tableExists(c, name)) ddl(c, s"DROP TABLE $name")
          deleteMeta(c, name)
          spark.catalog.dropTempView(name)
          Right(())
        }
      }
    } catch { case e: Exception => Left(TableGenericError(e.getMessage, Some(e))) }

  def setSchema(name: String, schema: Seq[FieldRepr]): Either[WarehouseError, Unit] =
    meta(name).map(m => withConn(writeMeta(_, name, m.copy(schema = schema))))

  def setExpiry(name: String, expires: Option[Instant]): Either[WarehouseError, Unit] =
    meta(name).map(m => withConn(writeMeta(_, name,
      m.copy(expiresAtMillis = expires.map(_.toEpochMilli)))))

  def vacuum(now: Instant): Seq[String] =
    withConn { c =>
      ensureMetaTable(c)
      val ps = c.prepareStatement(
        s"SELECT name FROM $MetaTable WHERE expires_millis <= ?")
      val expired = try {
        ps.setLong(1, now.toEpochMilli)
        val rs = ps.executeQuery()
        try {
          val b = Seq.newBuilder[String]
          while (rs.next()) b += rs.getString(1)
          b.result()
        } finally rs.close()
      } finally ps.close()
      expired.foreach(drop(_))
      expired
    }

  /** Same resolve-schema pipeline as the parquet backend; additive
    * evolution becomes `ALTER TABLE ADD COLUMN` (the relational form of
    * "older rows read null in newer columns"), with column DDL types from
    * the Spark JDBC dialect for this url.
    */
  def load(name: String, data: DataFrame, schema: Seq[FieldRepr] = Nil,
           fullSchema: Boolean = false,
           sizeLimit: Long = Chunker.DefaultSizeLimit): Either[WarehouseError, Long] =
    try {
      val prepared = Ingest.prepare(data)
      val existingSchema: Seq[FieldRepr] =
        if (schema.nonEmpty) schema
        else meta(name).map(_.schema).getOrElse(Nil)
      val dataSchema = SchemaCodec.fromStructType(prepared.schema)
      val resolved: Seq[FieldRepr] =
        if (fullSchema) {
          if (existingSchema.isEmpty)
            Seq.empty
          else existingSchema
        } else if (existingSchema.isEmpty) dataSchema
        else existingSchema ++
          dataSchema.filterNot(f => existingSchema.exists(_.name == f.name))
      if (fullSchema && resolved.isEmpty)
        return Left(InvalidInput("fullSchema=true requires a schema"))

      withConn { c =>
        if (!tableExists(c, name) && readMeta(c, name).isEmpty) {
          create(name, resolved).left.foreach(e => throw new RuntimeException(e.message))
        } else if (tableExists(c, name)) {
          // additive evolution: append any new fields to the live table
          val rs = c.getMetaData.getColumns(null, null, name.toUpperCase, null)
          val have = try {
            val b = Set.newBuilder[String]
            while (rs.next()) b += rs.getString("COLUMN_NAME").toLowerCase
            b.result()
          } finally rs.close()
          val target = Widen.toStructType(resolved)
          target.fields.filterNot(f => have.contains(f.name.toLowerCase)).foreach { f =>
            val ddlType = dialect.getJDBCType(f.dataType)
              .getOrElse(org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
                .getCommonJDBCType(f.dataType)
                .getOrElse(throw new IllegalArgumentException(
                  s"no JDBC type for ${f.dataType}")))
              .databaseTypeDefinition
            ddl(c, s"ALTER TABLE $name ADD COLUMN ${f.name} $ddlType")
          }
        } else {
          // meta-only (schemaless create): the first load materializes it
          val empty = spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            Widen.toStructType(resolved))
          graft.sources.Sources.writeJdbc(empty, url, name, SaveMode.Overwrite)
        }
        readMeta(c, name) match {
          case Some(m) if m.schema != resolved => writeMeta(c, name, m.copy(schema = resolved))
          case None => writeMeta(c, name, TableMeta(resolved, None))
          case _ => ()
        }
      }

      val target = Widen.toStructType(resolved)
      val aligned = prepared.select(target.fields.toSeq.map { f =>
        if (prepared.columns.contains(f.name))
          col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
      val sized = aligned.withColumn("_graft_size", Ingest.rowJsonSize(aligned))
      Chunker.greedyChunkIds(sized, "_graft_size", sizeLimit) match {
        case Left(e) => Left(e)
        case Right(chunked) =>
          val parts = math.min(math.max(1L, chunked.chunks), 16384L).toInt
          try {
            // closed-form chunk placement instead of a sampling range
            // shuffle (r18). SparkWarehouse.load cuts inside its write
            // job instead; a JDBC append has no per-chunk file to cut,
            // so this path keeps the statistics pass and the shuffle
            // that gives each chunk its own write partition.
            val chunksTotal = math.max(1L, chunked.chunks)
            graft.sources.Sources.writeJdbc(
              org.apache.spark.sql.GraftColumnBridge.repartitionByLongKey(
                  chunked.df.drop("_graft_size"), "_chunk", parts,
                  c => ((c * parts) / chunksTotal).toInt)
                .drop("_chunk"),
              url, name, SaveMode.Append)
          } finally chunked.unpersist()
          registerView(name)
          Right(chunked.rows)
      }
    } catch {
      case e: IllegalArgumentException => Left(RowsInvalid(e.getMessage))
      case e: Exception => Left(TableGenericError(e.getMessage, Some(e)))
    }

  def update(name: String, data: DataFrame, overwrite: Boolean = false): Either[WarehouseError, Unit] =
    try {
      val prepared = Ingest.prepare(data)
      val prior = meta(name).toOption
      val mode = if (overwrite) SaveMode.Overwrite else SaveMode.Append
      graft.sources.Sources.writeJdbc(prepared, url, name, mode)
      val newSchema =
        if (overwrite || prior.forall(_.schema.isEmpty))
          SchemaCodec.fromStructType(prepared.schema)
        else prior.get.schema
      withConn(writeMeta(_, name,
        TableMeta(newSchema, prior.flatMap(_.expiresAtMillis))))
      registerView(name)
      Right(())
    } catch { case e: Exception => Left(TableGenericError(e.getMessage, Some(e))) }

  def upsert(name: String, data: DataFrame,
             keys: Seq[String]): Either[WarehouseError, Unit] =
    get(name) match {
      case Left(e) => Left(e)
      case Right(existing) =>
        try {
          require(keys.nonEmpty, "upsert requires at least one key column")
          val prepared = Ingest.prepare(data)
          val missing = keys.filterNot(prepared.columns.contains)
          if (missing.nonEmpty)
            return Left(InvalidInput(s"upsert keys absent from data: $missing"))
          val aligned = prepared.select(existing.schema.fields.toSeq.map { f =>
            if (prepared.columns.contains(f.name))
              col(f.name).cast(f.dataType).as(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          }: _*)
          val survivors = existing.join(
            aligned.select(keys.map(col): _*).distinct(), keys, "left_anti")
          val merged = survivors.unionByName(aligned)
          // staging-table swap: the merged rows are fully written to a
          // sibling table BEFORE the live one is touched (a JDBC
          // Overwrite of `name` would drop the table Spark is still
          // lazily reading `existing` from)
          val staging = s"${name}_graft_stage"
          graft.sources.Sources.writeJdbc(merged, url, staging, SaveMode.Overwrite)
          commitStagingSwap(name, staging)
          registerView(name)
          Right(())
        } catch {
          case e: Exception => Left(TableGenericError(e.getMessage, Some(e)))
        }
    }

  /** Commit a fully-written staging table over the live one via
    * backup-rename — live → backup, staging → live, drop backup — so a
    * crash between any two statements leaves either the original or the
    * new table addressable under `name` (a plain DROP-then-RENAME has a
    * window where no live table exists and the data is only recoverable
    * from the staging name). Mirrors the parquet backend's
    * materializeSwap restore discipline.
    */
  private def commitStagingSwap(name: String, staging: String): Unit =
    withConn { c =>
      val backup = s"${name}_graft_bak"
      if (tableExists(c, backup)) ddl(c, s"DROP TABLE $backup")
      ddl(c, s"RENAME TABLE $name TO $backup")
      try ddl(c, s"RENAME TABLE $staging TO $name")
      catch {
        case e: Exception =>
          // restore: the original table comes back under its own name
          ddl(c, s"RENAME TABLE $backup TO $name")
          throw e
      }
      // the swap is COMMITTED once staging is renamed in — a failure
      // dropping the backup must not surface as a DML failure (r10
      // advice: a caller retrying a "failed" but actually-committed
      // non-idempotent update, e.g. SET v = v + 1, double-applies it).
      // The DROP-if-exists at entry reclaims a stale backup on the next
      // swap.
      try ddl(c, s"DROP TABLE $backup")
      catch {
        case e: Exception =>
          log.warn(s"commitStagingSwap: committed, but dropping backup " +
            s"$backup failed (${e.getMessage}) — will be reclaimed on " +
            "the next swap")
      }
    }

  // ---------- server-side predicate DML ----------

  /** Conservative Catalyst → SQL translation for the DML pushdown: a
    * closed subset (column refs, string/numeric/boolean literals,
    * comparisons, AND/OR/NOT, IS [NOT] NULL, IN, +, -, *, MOD/pmod)
    * chosen because it evaluates IDENTICALLY in Spark and an ANSI SQL
    * engine — no casts, no functions with dialect-divergent semantics.
    * Anything outside the subset returns None and the caller keeps the
    * read-transform-swap path: semantics first, pushdown second (the
    * reference's vendor-delegation premise, `classes.py:45-49` — the
    * vendor executes what it can express, the engine does the rest).
    * Column identifiers are quoted with the dialect — matching how
    * Spark's JDBC writer created them.
    */
  private def sqlOf(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Option[String] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    def integralRank(dt: DataType): Int = dt match {
      case ByteType => 1; case ShortType => 2
      case IntegerType => 3; case LongType => 4
      case _ => 0
    }
    def bin(l: Expression, op: String, r: Expression): Option[String] =
      for (ls <- sqlOf(l); rs <- sqlOf(r)) yield s"($ls $op $rs)"
    // string COMPARISONS are excluded from the pushdown subset (r10
    // advice): SQL pad-space collation (Derby pads trailing blanks when
    // comparing character types) and case-insensitive collations make
    // e.g. name = 'a ' match name='a' server-side while the engine path
    // matches nothing — the route taken would silently change WHICH
    // rows a DML mutates. Comparisons over strings take the engine
    // rewrite path (always binary, no-pad); string LITERALS remain
    // translatable for SET assignments, where no collation is consulted.
    def cmp(l: Expression, op: String, r: Expression): Option[String] =
      if (l.dataType == StringType || r.dataType == StringType) None
      else bin(l, op, r)
    e match {
      case a: AttributeReference => Some(dialect.quoteIdentifier(a.name))
      case Literal(null, _) => None
      case Literal(v, StringType) =>
        Some("'" + v.toString.replace("'", "''") + "'")
      case Literal(v, ByteType | ShortType | IntegerType | LongType) =>
        Some(v.toString)
      case Literal(v, _: DecimalType) => Some(v.toString)
      case Literal(v, DoubleType)
        if !v.asInstanceOf[Double].isNaN && !v.asInstanceOf[Double].isInfinite =>
        Some(v.toString)
      case Literal(v, FloatType)
        if !v.asInstanceOf[Float].isNaN && !v.asInstanceOf[Float].isInfinite =>
        Some(v.toString)
      case Literal(v, BooleanType) => Some(v.toString.toUpperCase)
      // analysis wraps literals in casts (lit(7) against a BIGINT column
      // becomes CAST(7 AS BIGINT)): fold constant casts driver-side,
      // and drop value-preserving integral widenings of columns —
      // SQL's mixed-width numeric comparison gives the same answer
      case c: Cast if c.foldable =>
        // eval returns the Catalyst-internal value — exactly what the
        // raw Literal constructor stores
        sqlOf(Literal(c.eval(null), c.dataType))
      case Cast(child, dt, _, _)
        if integralRank(dt) > 0 && integralRank(child.dataType) > 0 &&
          integralRank(dt) >= integralRank(child.dataType) => sqlOf(child)
      case EqualTo(l, r) => cmp(l, "=", r)
      case LessThan(l, r) => cmp(l, "<", r)
      case LessThanOrEqual(l, r) => cmp(l, "<=", r)
      case GreaterThan(l, r) => cmp(l, ">", r)
      case GreaterThanOrEqual(l, r) => cmp(l, ">=", r)
      case And(l, r) => bin(l, "AND", r)
      case Or(l, r) => bin(l, "OR", r)
      case Not(EqualTo(l, r)) => cmp(l, "<>", r)
      case Not(c) => sqlOf(c).map(s => s"(NOT $s)")
      case IsNull(c) => sqlOf(c).map(s => s"($s IS NULL)")
      case IsNotNull(c) => sqlOf(c).map(s => s"($s IS NOT NULL)")
      case In(v, list) if list.nonEmpty && v.dataType != StringType =>
        for {
          vs <- sqlOf(v)
          items <- list.foldLeft(Option(Vector.empty[String])) { (acc, x) =>
            for (a <- acc; s <- sqlOf(x)) yield a :+ s
          }
        } yield s"($vs IN (${items.mkString(", ")}))"
      case Add(l, r, _) => bin(l, "+", r)
      case Subtract(l, r, _) => bin(l, "-", r)
      case Multiply(l, r, _) => bin(l, "*", r)
      case Remainder(l, r, _) =>
        for (ls <- sqlOf(l); rs <- sqlOf(r)) yield s"MOD($ls, $rs)"
      case Pmod(l, r, _) =>
        // pmod is non-negative for positive modulus; ANSI MOD keeps the
        // dividend's sign — compose MOD(MOD(l, r) + r, r) to match
        for (ls <- sqlOf(l); rs <- sqlOf(r))
          yield s"MOD((MOD($ls, $rs) + $rs), $rs)"
      case _ => None
    }
  }

  /** The analyzed filter condition of `predicate` against `existing` —
    * analysis only, no job (a Spark-4 Column is an opaque ColumnNode
    * until analyzed against a plan).
    */
  private def analyzedPredicate(existing: DataFrame,
      predicate: org.apache.spark.sql.Column)
      : Option[org.apache.spark.sql.catalyst.expressions.Expression] =
    existing.filter(predicate).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }

  /** Analyzed expressions of the SET values, keyed by target column. */
  private def analyzedSet(existing: DataFrame,
      set: Map[String, org.apache.spark.sql.Column])
      : Option[Map[String, org.apache.spark.sql.catalyst.expressions.Expression]] = {
    if (set.isEmpty) return None
    val keys = set.keys.toSeq
    val proj = existing.select(keys.map(k => set(k).as(s"__set_$k")): _*)
    proj.queryExecution.analyzed.collectFirst {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        keys.zip(p.projectList).map {
          case (k, org.apache.spark.sql.catalyst.expressions.Alias(child, _)) =>
            k -> child
          case (k, other) => k -> other
        }.toMap
    }
  }

  /** SQL-translatable predicate DML executes SERVER-SIDE — one
    * `DELETE FROM`/`UPDATE … WHERE` statement, zero rows through Spark
    * (at warehouse scale the difference between a statement and
    * shipping the table through the JVM twice). Statement-atomic in
    * the database, so on ANY failure the fallback rewrite path can
    * safely re-run the same semantics.
    */
  private def pushedDml(sql: String, name: String): Boolean =
    try {
      withConn(ddl(_, sql))
      registerView(name)
      true
    } catch {
      case e: Exception =>
        log.warn(s"server-side DML failed (${e.getMessage}); " +
          "falling back to the rewrite path")
        false
    }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Translate a DELETE's predicate, or None when any part of it is
    * outside the pushdown subset. Exposed package-private so specs can
    * pin WHICH path a given predicate takes.
    */
  private[graft] def deleteSql(existing: DataFrame, name: String,
      predicate: org.apache.spark.sql.Column): Option[String] =
    for {
      p <- analyzedPredicate(existing, predicate)
      ps <- sqlOf(p)
    } yield s"DELETE FROM $name WHERE $ps"

  private[graft] def updateSql(existing: DataFrame, name: String,
      set: Map[String, org.apache.spark.sql.Column],
      predicate: org.apache.spark.sql.Column): Option[String] =
    for {
      p <- analyzedPredicate(existing, predicate)
      ps <- sqlOf(p)
      sets <- analyzedSet(existing, set)
      assigns <- sets.toSeq.sortBy(_._1).foldLeft(Option(Vector.empty[String])) {
        case (acc, (k, v)) =>
          for (a <- acc; vs <- sqlOf(v))
            yield a :+ s"${dialect.quoteIdentifier(k)} = $vs"
      }
    } yield s"UPDATE $name SET ${assigns.mkString(", ")} WHERE $ps"

  /** Rewrite-and-swap shared by the row-level DML verbs when the
    * predicate is NOT expressible in the pushdown subset: materialize
    * the transformed rows to a staging table BEFORE the live one is
    * touched (a JDBC Overwrite of `name` would drop the table Spark is
    * still lazily reading from — the same self-overwrite hazard
    * [[upsert]] avoids), then swap via backup-rename. Semantics are
    * identical to the pushed statements — which is what lets
    * [[updateWhere]]/[[deleteWhere]] pick per predicate.
    */
  private def rewriteSwap(name: String,
                          f: DataFrame => DataFrame): Either[WarehouseError, Unit] =
    get(name) match {
      case Left(e) => Left(e)
      case Right(existing) =>
        try {
          val rewritten = f(existing)
          val staging = s"${name}_graft_stage"
          graft.sources.Sources.writeJdbc(rewritten, url, staging, SaveMode.Overwrite)
          commitStagingSwap(name, staging)
          registerView(name)
          Right(())
        } catch {
          case e: Exception => Left(TableGenericError(e.getMessage, Some(e)))
        }
    }

  def updateWhere(name: String, set: Map[String, org.apache.spark.sql.Column],
                  predicate: org.apache.spark.sql.Column): Either[WarehouseError, Unit] =
    get(name) match {
      case Left(e) => Left(e)
      case Right(existing) =>
        val missing = set.keys.filterNot(existing.columns.contains)
        if (missing.nonEmpty)
          return Left(InvalidInput(s"unknown update columns: $missing"))
        val pushed = try updateSql(existing, name, set, predicate)
          catch { case _: Exception => None }
        if (pushed.exists(pushedDml(_, name))) Right(())
        else rewriteSwap(name, { ex =>
          ex.select(ex.columns.toIndexedSeq.map { c =>
            set.get(c) match {
              case Some(v) => org.apache.spark.sql.functions
                .when(predicate, v).otherwise(col(c)).as(c)
              case None    => col(c)
            }
          }: _*)
        })
    }

  def deleteWhere(name: String,
                  predicate: org.apache.spark.sql.Column): Either[WarehouseError, Unit] =
    get(name) match {
      case Left(e) => Left(e)
      case Right(existing) =>
        // SQL DELETE WHERE p kills only p=TRUE rows — exactly the
        // engine path's filter(p IS NULL OR NOT p) survivor rule
        val pushed = try deleteSql(existing, name, predicate)
          catch { case _: Exception => None }
        if (pushed.exists(pushedDml(_, name))) Right(())
        else rewriteSwap(name, _.filter(predicate.isNull || !predicate))
    }

  def rename(from: String, to: String): Either[WarehouseError, Unit] =
    try {
      withConn { c =>
        if (!tableExists(c, from)) Left(TableNotFound(from))
        else if (tableExists(c, to))
          Left(TableGenericError(s"table $to already exists (Conflict)"))
        else {
          ddl(c, s"RENAME TABLE $from TO $to")
          readMeta(c, from).foreach { m =>
            deleteMeta(c, from)
            writeMeta(c, to, m)
          }
          spark.catalog.dropTempView(from)
          registerView(to)
          Right(())
        }
      }
    } catch { case e: Exception => Left(TableGenericError(e.getMessage, Some(e))) }

  def registerView(name: String): Unit =
    get(name).foreach(_.createOrReplaceTempView(name))
}
