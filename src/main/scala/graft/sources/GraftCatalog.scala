package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Catalog plugin for the versioned store — registers GraftTable dirs
  * into Spark's multi-catalog namespace so plain SQL addresses them:
  *
  *   spark.conf.set("spark.sql.catalog.gt",
  *                  "graft.sources.GraftCatalog")
  *   [optional] spark.conf.set("spark.sql.catalog.gt.warehouse", root)
  *
  *   SELECT * FROM gt.`/abs/table/dir`          -- path-addressed
  *   SELECT * FROM gt.mytable                   -- warehouse-resolved
  *   SELECT * FROM gt.mytable VERSION AS OF 2   -- SQL time travel
  *   SELECT * FROM gt.mytable TIMESTAMP AS OF … -- via ts= headers
  *   CREATE TABLE gt.mytable (…) USING graft / DROP TABLE
  *
  * Path addressing follows the transaction-log formats' convention
  * (`delta.`/path``): an identifier containing a `/` IS the table dir.
  * Register the catalog under a name OTHER than the format's short name
  * "graft" — Spark's SQL-on-file rule claims `graft.`…`` for the
  * direct-query-on-files syntax before catalog resolution sees it.
  * Catalogs resolve lazily from runtime conf, so registration needs no
  * session rebuild. Reads serve the same manifest-resolved DSv2 table
  * `spark.read.format("graft")` builds — one read path, two doors. */
class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catalogName: String = "graft"
  private var warehouse: Option[String] = None

  // ---- FunctionCatalog: the ONE function the storage layout declares.
  // Spark resolves a scan's reported bucket(n, col) transform against
  // the relation's function catalog (V2ExpressionUtils) — without this,
  // two bucket-layout tables could never prove to the planner that
  // their key groups line up, and every join would shuffle.
  override def listFunctions(namespace: Array[String])
      : Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name() == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse"))
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  /** Identifier → table dir: a path-shaped name is the dir itself;
    * otherwise namespace segments resolve under the warehouse root. */
  private def dirOf(ident: Identifier): String =
    if (ident.name.contains("/")) ident.name
    else warehouse match {
      case Some(w) => ((w +: ident.namespace()) :+ ident.name).mkString("/")
      case None => throw new NoSuchTableException(Seq(
        s"$catalogName catalog has no warehouse configured " +
          s"(spark.sql.catalog.$catalogName.warehouse) and " +
          s"'${ident.name}' is not a path — address tables as " +
          s"$catalogName.`/table/dir` or set the warehouse"))
    }

  private def load(ident: Identifier, version: Option[Int]): Table = {
    val dir = dirOf(ident)
    val fs = GraftTable.fsOf(spark, dir)
    val cur = GraftTable.currentVersion(fs, dir).getOrElse(
      throw new NoSuchTableException(ident))
    new GraftSparkTable(spark, dir, version.getOrElse(cur))
  }

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** SQL `VERSION AS OF <n>`. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(version.toIntOption.getOrElse(
      sys.error(s"graft versions are integers: '$version'"))))

  /** SQL `TIMESTAMP AS OF …` — Spark hands epoch MICROseconds; the
    * manifest's ts= headers are milliseconds. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = dirOf(ident)
    val fs = GraftTable.fsOf(spark, dir)
    val v = GraftTable.versionAsOf(fs, dir, timestampMicros / 1000L)
      .getOrElse(sys.error(
        s"no version of $dir committed at or before " +
          s"${timestampMicros / 1000L} ms"))
    load(ident, Some(v))
  }

  override def tableExists(ident: Identifier): Boolean = {
    val fs = GraftTable.fsOf(spark, dirOf(ident))
    GraftTable.currentVersion(fs, dirOf(ident)).isDefined
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    warehouse match {
      case None => Array.empty
      case Some(w) =>
        val root = new Path((w +: namespace).mkString("/"))
        val fs = GraftTable.fsOf(spark, root.toString)
        if (!fs.exists(root)) Array.empty
        else fs.listStatus(root).collect {
          case st if st.isDirectory &&
              GraftTable.currentVersion(fs,
                st.getPath.toString).isDefined =>
            Identifier.of(namespace, st.getPath.getName)
        }
    }

  /** CREATE TABLE: mint version 0 — an empty snapshot carrying the
    * declared schema in its schema= header, so the write-time gate
    * binds from the first real commit on. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String])
      : Table = {
    val dir = dirOf(ident)
    val fs = GraftTable.fsOf(spark, dir)
    if (GraftTable.currentVersion(fs, dir).isDefined)
      throw new TableAlreadyExistsException(
        (ident.namespace() :+ ident.name).toSeq)
    require(partitions.isEmpty,
      "CREATE TABLE … PARTITIONED BY is not supported yet — commit a " +
        "partitionBy layout through the GraftTable API instead")
    // repartition(1): a 0-partition empty frame writes NO parquet file
    // (only _SUCCESS), and every API-path read of v0 would then fail
    // schema inference — one empty file carries the schema instead
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .repartition(1)
    GraftTable.commitNextIsolated(spark, dir, empty, "create table")
    load(ident, None)
  }

  /** `ALTER TABLE … ADD | RENAME | DROP COLUMN[S]` — each mapped onto a
    * metadata-only empty-delta commit: ADD widens the schema= header
    * (readers backfill typed NULLs, `GraftTable.commitAddColumns`);
    * RENAME records the new names plus a colmap= header so the existing
    * files keep serving under them (`commitRenameColumns`); DROP
    * narrows the schema= header, files untouched (`commitDropColumns`).
    * Retypes/repositions refuse loudly: they need a rewrite the user
    * must run deliberately (allowEvolution through a write path), and a
    * silent metadata-only version for them would lie about the files
    * underneath. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirOf(ident)
    val added = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val renamed = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val dropped = scala.collection.mutable.ArrayBuffer.empty[String]
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          "ALTER TABLE ADD COLUMN on a graft table adds top-level " +
            s"columns only (got nested ${a.fieldNames.mkString(".")})")
        require(a.isNullable,
          s"ADD COLUMN ${a.fieldNames.head} must be nullable — every " +
            "existing row backfills NULL (add NOT NULL as a declared " +
            "constraint on a later full commit instead)")
        require(a.position() == null,
          "ADD COLUMN … FIRST/AFTER is not supported — new columns " +
            "append at the end of the schema")
        // the schema= header carries name:type ONLY — anything else the
        // statement declares must refuse loudly (the repo's posture),
        // never be silently discarded
        require(a.comment() == null,
          s"ADD COLUMN ${a.fieldNames.head} … COMMENT is not supported " +
            "— a graft table's schema= header carries name:type only, " +
            "and silently dropping the comment would lie about the DDL")
        require(a.defaultValue() == null,
          s"ADD COLUMN ${a.fieldNames.head} … DEFAULT is not supported " +
            "— existing rows backfill NULL (metadata-only alter); a " +
            "default would require a rewrite, run it deliberately")
        added += ((a.fieldNames.head, a.dataType().catalogString))
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          "ALTER TABLE RENAME COLUMN on a graft table renames top-level " +
            s"columns only (got nested ${r.fieldNames.mkString(".")})")
        renamed += ((r.fieldNames.head, r.newName))
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          "ALTER TABLE DROP COLUMN on a graft table drops top-level " +
            s"columns only (got nested ${d.fieldNames.mkString(".")})")
        dropped += d.fieldNames.head
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE change $other is not supported on a graft table " +
          "— ADD/RENAME/DROP COLUMN are metadata-only; retypes need a " +
          "deliberate rewrite (commit with allowEvolution)")
    }
    require(Seq(added, renamed, dropped).count(_.nonEmpty) == 1,
      "one ALTER TABLE statement must be a single change kind " +
        "(ADD, RENAME or DROP COLUMN)")
    if (added.nonEmpty)
      GraftTable.commitAddColumns(spark, dir, added.toSeq,
        s"ALTER TABLE ADD COLUMNS (${added.map(_._1).mkString(", ")})")
    else if (renamed.nonEmpty)
      GraftTable.commitRenameColumns(spark, dir, renamed.toSeq,
        s"ALTER TABLE RENAME COLUMN (${renamed
          .map { case (o, n) => s"$o→$n" }.mkString(", ")})")
    else
      GraftTable.commitDropColumns(spark, dir, dropped.toSeq,
        s"ALTER TABLE DROP COLUMNS (${dropped.mkString(", ")})")
    load(ident, None)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    val fs = GraftTable.fsOf(spark, dir)
    val existed = GraftTable.currentVersion(fs, dir).isDefined
    if (existed) fs.delete(new Path(dir), true)
    existed
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "RENAME on a graft table is not supported (a table IS its dir)")
}

/** The storage bucketing function, defined ONCE for both sides of the
  * contract: the WRITE side materializes `bucketCol = pmod(key, n)`
  * (validated row-for-row at commit), and the READ side reports the
  * `bucket(n, key)` transform whose evaluation is this exact function —
  * so the planner's key-group alignment and the bytes on disk can never
  * disagree. Modulo (not a hash) on purpose: the bucket id is then
  * human-legible in the dir name, and uniformity comes from the key
  * domain the way it does for every hash-partitioned layout here. */
private[graft] object GraftBucketFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}
  import org.apache.spark.sql.types._

  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, col): pmod(col, n) — the graft bucket-layout transform"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket takes (numBuckets, col); got ${inputType.simpleString}")
    val keyType = inputType.fields(1).dataType
    require(keyType == LongType || keyType == IntegerType,
      s"bucket key must be integral; got ${keyType.simpleString}")
    new ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] =
        Array(IntegerType, keyType)
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = "graft.bucket"
      override def isResultNullable: Boolean = true
      override def produceResult(
          input: org.apache.spark.sql.catalyst.InternalRow): Integer =
        if (input.isNullAt(0) || input.isNullAt(1)) null
        else {
          val n = input.getInt(0)
          val k = keyType match {
            case LongType => input.getLong(1)
            case _        => input.getInt(1).toLong
          }
          java.lang.Math.floorMod(k, n.toLong).toInt
        }
    }
  }
}
