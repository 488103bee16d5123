package graft.io

import org.apache.spark.sql.DataFrame

/** Sink adapters (SURVEY §2.2). Spark's commit protocol (`_temporary` +
  * atomic rename) supplies the transactional temp-file-then-move semantics
  * every reference sink hand-rolls. Parquet append is a true append (new
  * files), strictly better than the reference's read-concat-rewrite
  * (`parquet_loader.py:192-195`).
  */
object Sinks {
  /** CSV load (`csv_loader.py:150-258`): overwrite/append, compression,
    * schema-ordered columns. */
  def csv(df: DataFrame, path: String, header: Boolean = true,
      mode: String = "overwrite", compression: Option[String] = None,
      orderedColumns: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.col
    val ordered = if (orderedColumns.isEmpty) df
      else {
        // schema columns first, extras (e.g. _meta_*) preserved after
        val extras = df.columns.filterNot(orderedColumns.contains)
        df.select((orderedColumns ++ extras).map(col): _*)
      }
    val w = ordered.write.mode(mode).option("header", header.toString)
    compression.fold(w)(c => w.option("compression", c)).csv(path)
  }

  /** JSONL load (`json_loader.py:143-162`): native line-delimited write. */
  def jsonl(df: DataFrame, path: String, mode: String = "overwrite",
      compression: Option[String] = None): Unit = {
    val w = df.write.mode(mode)
    compression.fold(w)(c => w.option("compression", c)).json(path)
  }

  /** XML export via Spark 4's native xml data source (each row becomes a
    * `<rowTag>` element under `<rootTag>`; executor-parallel like any
    * file sink). The enterprise-feed format the JSON/CSV loaders don't
    * cover. */
  def xml(df: DataFrame, path: String, rowTag: String = "row",
      rootTag: String = "rows", mode: String = "overwrite"): Unit =
    df.write.mode(mode)
      .option("rowTag", rowTag).option("rootTag", rootTag)
      .format("xml").save(path)

  /** JSON array load (`json_loader.py:181-248`): single array file. A
    * single array file is inherently single-writer, but it is NOT
    * inherently driver-side (the reference buffers everything in memory;
    * `json_loader.py:181-201`): the rows stream through ONE executor task
    * (`coalesce(1)` + a streamed `[`/`,`/`]`-framed write against the
    * session's filesystem), so the driver never materializes the dataset
    * and the file can be as large as one task can stream. Null-valued
    * fields are emitted explicitly (`"k": null`) like the reference's
    * `json.dump` — Spark's default `toJSON` would omit them. */
  def jsonArray(df: DataFrame, path: String, pretty: Boolean = false,
      schemaSidecar: Boolean = false): Unit = {
    import org.apache.spark.sql.functions.{col, struct, to_json}
    val rows = df
      .select(to_json(struct(df.columns.map(col): _*),
        Map("ignoreNullFields" -> "false")).as("j"))
      .coalesce(1)
    val confW = org.apache.spark.util.GraftConfBridge
      .wrap(df.sparkSession.sparkContext.hadoopConfiguration)
    val tmp = path + ".inprogress"
    // clear any stale tmp from a failed earlier run — the zero-partition
    // (empty input) fallback below must never adopt leftover bytes
    locally {
      val p = new org.apache.hadoop.fs.Path(tmp)
      val fs0 = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      if (fs0.exists(p)) fs0.delete(p, false)
    }
    rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
      val conf = org.apache.spark.util.GraftConfBridge.unwrap(confW)
      val p = new org.apache.hadoop.fs.Path(tmp)
      val fs = p.getFileSystem(conf)
      val out = fs.create(p, true)
      val w = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(out, java.nio.charset.StandardCharsets.UTF_8))
      try {
        w.write("[")
        var first = true
        it.foreach { r =>
          w.write(if (first) { first = false; if (pretty) "\n  " else "" }
                  else if (pretty) ",\n  " else ",")
          w.write(r.getString(0))
        }
        if (pretty && !first) w.write("\n")
        w.write("]")
      } finally w.close()
    }
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    if (!fs.exists(tmpPath)) {
      // legitimate only when NO task ran (zero-partition empty input); if a
      // task DID run and the driver can't see its file, the filesystem is
      // not shared (file:// on a multi-node cluster) — fail loudly rather
      // than silently exporting "[]" over real data
      require(rows.rdd.getNumPartitions == 0,
        s"executor wrote $tmp but the driver cannot see it — single-file " +
          "JSON export needs a filesystem shared by driver and executors " +
          "(HDFS/s3a, or local mode)")
      val o = fs.create(tmpPath, true)
      o.write("[]".getBytes(java.nio.charset.StandardCharsets.UTF_8)); o.close()
    }
    Option(target.getParent).foreach(fs.mkdirs(_))
    if (fs.exists(target)) fs.delete(target, false)
    require(fs.rename(tmpPath, target), s"rename $tmp -> $path failed")
    // `.schema.json` export (json_loader.py:215-248), named off the stem
    // like the reference (out.json -> out.schema.json): the serialized
    // StructType — round-trips via DataType.fromJson
    if (schemaSidecar) {
      val stem = path.replaceAll("\\.[^./\\\\]+$", "")
      val side = new org.apache.hadoop.fs.Path(stem + ".schema.json")
      val o = fs.create(side, true)
      o.write(df.schema.prettyJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      o.close()
    }
  }

  /** Parquet load (`parquet_loader.py:144-250`): snappy default, directory
    * partitioning, true append. */
  def parquet(df: DataFrame, path: String, mode: String = "overwrite",
      partitionCols: Seq[String] = Nil, compression: String = "snappy"): Unit = {
    val w = df.write.mode(mode).option("compression", compression)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
  }

  /** ORC load — columnar sink with the same mode/partitioning surface as
    * parquet (the reference's `format_conversion.py` example pairs formats
    * symmetrically). */
  def orc(df: DataFrame, path: String, mode: String = "overwrite",
      partitionCols: Seq[String] = Nil, compression: String = "snappy"): Unit = {
    val w = df.write.mode(mode).option("compression", compression)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .orc(path)
  }

  /** JDBC load (`postgres_loader.py:118-170`/`sqlite_loader.py`): dialect-
    * driven CREATE TABLE from the driver, then per-partition batched
    * INSERTs from the executors — the reference loader's own
    * DDL + executemany shape. Overwrite maps to drop_if_exists; `batchsize`
    * bounds each executeBatch; `numPartitions` caps insert parallelism
    * (connection count at the database = partition count, the knob a real
    * warehouse load tunes).
    *
    * Deliberately NOT `df.write.format("jdbc")`: Spark's writer holds the
    * driver's DDL connection open ACROSS the executor insert stage, which
    * deadlocks single-booter embedded engines (Derby) on any multi-JVM
    * master. Here the driver connection is closed before the insert action
    * starts — hand-over-hand with [[DerbySingleJvmDriver]]'s
    * shutdown-on-close, and a plain sequential pattern for servers. */
  def jdbc(df: DataFrame, url: String, table: String,
      mode: String = "append", options: Map[String, String] = Map.empty): Unit = {
    val batchSize = options.getOrElse("batchsize", "1000").toInt
    val driverClass = options.get("driver")
    val dialect = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
    val schema = df.schema

    import org.apache.spark.sql.types._
    def sqlTypeOf(dt: DataType): (String, Int) = {
      import java.sql.Types
      dialect.getJDBCType(dt)
        .map(j => (j.databaseTypeDefinition, j.jdbcNullType))
        .getOrElse(dt match { // Spark's common fallback mapping
          case IntegerType => ("INTEGER", Types.INTEGER)
          case LongType => ("BIGINT", Types.BIGINT)
          case DoubleType => ("DOUBLE PRECISION", Types.DOUBLE)
          case FloatType => ("REAL", Types.FLOAT)
          case ShortType => ("INTEGER", Types.SMALLINT)
          case ByteType => ("BYTE", Types.TINYINT)
          case BooleanType => ("BIT(1)", Types.BIT)
          case StringType => ("TEXT", Types.CLOB)
          case BinaryType => ("BLOB", Types.BLOB)
          case TimestampType => ("TIMESTAMP", Types.TIMESTAMP)
          case DateType => ("DATE", Types.DATE)
          case d: DecimalType =>
            (s"DECIMAL(${d.precision},${d.scale})", Types.DECIMAL)
          case other =>
            throw new IllegalArgumentException(s"no JDBC type for $other")
        })
    }

    def connect(): java.sql.Connection = driverClass match {
      case Some(c) => Class.forName(c).getDeclaredConstructor().newInstance()
        .asInstanceOf[java.sql.Driver]
        .connect(url, new java.util.Properties)
      case None => java.sql.DriverManager.getConnection(url)
    }

    // DDL phase: one driver-side connection, closed before any task runs
    val conn = connect()
    try {
      val st = conn.createStatement()
      try {
        if (mode == "overwrite") {
          try { st.executeUpdate(s"DROP TABLE $table"); () }
          catch { case _: java.sql.SQLException => () } // didn't exist
        }
        val cols = schema.fields.map { f =>
          val (t, _) = sqlTypeOf(f.dataType)
          s"${dialect.quoteIdentifier(f.name)} $t" +
            (if (f.nullable) "" else " NOT NULL")
        }
        // append onto an existing table surfaces here as already-exists —
        // swallowed; a genuinely bad DDL fails the insert below loudly
        try { st.executeUpdate(s"CREATE TABLE $table (${cols.mkString(", ")})"); () }
        catch { case _: java.sql.SQLException if mode != "overwrite" => () }
      } finally st.close()
    } finally conn.close()

    // insert phase: executors connect independently, batch, commit once
    val nullTypes = schema.fields.map(f => sqlTypeOf(f.dataType)._2)
    val insertSql = s"INSERT INTO $table " +
      s"(${schema.fields.map(f => dialect.quoteIdentifier(f.name)).mkString(", ")}) " +
      s"VALUES (${schema.fields.map(_ => "?").mkString(", ")})"
    val nCols = schema.fields.length
    val data = options.get("numPartitions").map(_.toInt)
      .map(df.coalesce).getOrElse(df)
    data.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.hasNext) {
        val c = driverClass match {
          case Some(cl) => Class.forName(cl).getDeclaredConstructor()
            .newInstance().asInstanceOf[java.sql.Driver]
            .connect(url, new java.util.Properties)
          case None => java.sql.DriverManager.getConnection(url)
        }
        try {
          c.setAutoCommit(false)
          val ps = c.prepareStatement(insertSql)
          try {
            var n = 0
            rows.foreach { r =>
              var i = 0
              while (i < nCols) {
                val v = r.get(i)
                if (v == null) ps.setNull(i + 1, nullTypes(i))
                else v match {
                  case d: scala.math.BigDecimal =>
                    ps.setBigDecimal(i + 1, d.bigDecimal)
                  case x => ps.setObject(i + 1, x)
                }
                i += 1
              }
              ps.addBatch()
              n += 1
              if (n % batchSize == 0) { ps.executeBatch(); () }
            }
            ps.executeBatch()
            c.commit()
          } finally ps.close()
        } finally c.close()
      }
    }
  }

  /** Bucketed, bucket-sorted parquet table — the co-located-join layout for
    * repeatedly-joined fact/dim pairs. See [[graft.core.Bucketing]]. */
  def bucketedTable(df: DataFrame, table: String, path: String,
      bucketCols: Seq[String], numBuckets: Int): Unit =
    graft.core.Bucketing.writeBucketed(df, table, bucketCols, numBuckets,
      Some(path))
}
