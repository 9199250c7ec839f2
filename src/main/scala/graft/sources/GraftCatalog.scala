package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util

import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A Spark `TableCatalog` over a root directory of graft object-store
  * tables — the catalog face of the reference's pool/namespace model
  * (SURVEY §1.1: a table = a named set of `<table>.<seq>` objects in a
  * pool; here pool = namespace directory). Registration:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
  * spark.conf.set("spark.sql.catalog.graft.root", "/data/graft")
  * spark.sql("SELECT * FROM graft.main.lineitem WHERE l_quantity > 45")
  * spark.sql("DELETE FROM graft.main.lineitem WHERE l_shipdate < '1996-01-01'")
  * spark.sql("INSERT INTO graft.main.lineitem SELECT ...")
  * }}}
  *
  * A table lives at `<root>/<namespace…>/<name>/` holding
  * `<name>.<seq>` objects. Schema resolves from the first object; an
  * empty (just-created) table keeps a `_schema.ddl` sidecar so CTAS /
  * create-then-insert works before the first object lands. DELETE is
  * object-level (SupportsDelete on GraftObjectTable): stats-pruned,
  * whole-object unlink, or staged in-place rewrite.
  *
  * 100 TB posture: the catalog itself is metadata-only (directory
  * listings + one footer read per schema resolution); all data motion
  * stays in the DSv2 scan/write/delete paths.
  */
/** `graft_bucket(W, key)` = floorDiv(key, W) — the width-bucket
  * transform the clustered object layout partitions by. Exposed
  * through the catalog's FunctionCatalog face so Spark can resolve the
  * `KeyGroupedPartitioning(graft_bucket(W, col))` a width-clustered
  * scan reports, which is what lets two co-bucketed tables join
  * storage-partitioned (shuffle-free) at HIGH key cardinality — the
  * Iceberg bucket-SPJ shape, with a range bucket instead of a hash
  * bucket because contiguity is what footer min/max can verify. */
object GraftBucketFunction extends UnboundFunction {
  // Named "bucket" because the scan reports the standard bucket(n,col)
  // V2 transform (the shape Spark's SPJ machinery special-cases); the
  // BOUND function's canonicalName is graft-specific, so a graft
  // bucket never tests compatible with another catalog's bucketing.
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(width, key): floorDiv(key, width) contiguous range bucket"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"graft bucket wants (width, key), got ${inputType.catalogString}")
    val widthType = inputType.fields(0).dataType
    val keyType = inputType.fields(1).dataType
    require(keyType == LongType || keyType == IntegerType,
      s"graft bucket wants an integral key, got $keyType")
    new ScalarFunction[java.lang.Long] {
      override def inputTypes(): Array[DataType] = Array(widthType, keyType)
      override def resultType(): DataType = LongType
      override def name(): String = "bucket"
      override def canonicalName(): String = "graft.range_bucket.v1"
      override def isResultNullable: Boolean = false
      override def produceResult(input: InternalRow): java.lang.Long = {
        def longAt(i: Int, dt: DataType): Long = dt match {
          case LongType => input.getLong(i)
          case _ => input.getInt(i).toLong
        }
        Math.floorDiv(longAt(1, keyType), longAt(0, widthType))
      }
    }
  }
}

class GraftCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(root, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.list(namespace)

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name: spark.sql.catalog.$name.root is required"))
    Files.createDirectories(Paths.get(root))
  }

  override def name(): String = catalogName

  private def tableDir(ident: Identifier): File =
    new File((root +: ident.namespace() :+ ident.name()).mkString("/"))

  private def schemaSidecar(dir: File): File = new File(dir, "_schema.ddl")
  private def propsSidecar(dir: File): File = new File(dir, "_props")

  /** Table properties the object store understands as option defaults
    * (TBLPROPERTIES → every later scan/write on the table). `check.*`
    * keys are CHECK constraints (GraftChecks): named write-path
    * data-quality predicates enforced inside every writer task. */
  private val StorableProps = Set("clusterBy", "clusteredBy",
    "clusterWidth", "bloomFilterColumns", "bloomFilterFpp")

  /** Keys Spark's DDL layer injects into createTable properties on its
    * own (never typed by the user) — ignored, not errors. */
  private val SparkReservedProps: Set[String] = Set(
    org.apache.spark.sql.connector.catalog.TableCatalog.PROP_PROVIDER,
    org.apache.spark.sql.connector.catalog.TableCatalog.PROP_LOCATION,
    org.apache.spark.sql.connector.catalog.TableCatalog.PROP_COMMENT,
    org.apache.spark.sql.connector.catalog.TableCatalog.PROP_OWNER,
    org.apache.spark.sql.connector.catalog.TableCatalog.PROP_EXTERNAL,
    org.apache.spark.sql.connector.catalog.TableCatalog.PROP_IS_MANAGED_LOCATION,
    "transient_lastDdlTime")

  private def storable(key: String): Boolean =
    StorableProps.contains(key) || key.startsWith(GraftChecks.Prefix)

  private def readProps(dir: File): Map[String, String] = {
    val f = propsSidecar(dir)
    if (!f.isFile) Map.empty
    else new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .split("\n").toSeq.filter(_.contains("=")).map { l =>
        val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
      }.toMap
  }

  private def writeProps(dir: File, props: Map[String, String]): Unit =
    if (props.nonEmpty)
      Files.write(propsSidecar(dir).toPath,
        props.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
          .mkString("\n").getBytes(StandardCharsets.UTF_8))
    else Files.deleteIfExists(propsSidecar(dir).toPath)

  // ---- FunctionCatalog: the bucket transform used by SPJ ------------
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, GraftBucketFunction.name()))

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name() == GraftBucketFunction.name()) GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  override def functionExists(ident: Identifier): Boolean =
    ident.name() == GraftBucketFunction.name()

  /** The live schema (`GraftObjectTable.liveSchema`: sidecar first,
    * else the first object's header). */
  private def resolveSchema(ident: Identifier, dir: File): StructType =
    GraftObjectTable.liveSchema(dir.getPath)
      .getOrElse(throw new NoSuchTableException(ident))

  override def tableExists(ident: Identifier): Boolean =
    tableDir(ident).isDirectory

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    if (!dir.isDirectory) throw new NoSuchTableException(ident)
    new GraftObjectTable(resolveSchema(ident, dir), dir.getPath,
      readProps(dir))
  }

  /** Time travel: `SELECT … FROM graft.ns.t VERSION AS OF 3` — the
    * returned table is the immutable snapshot view `dir@v3`
    * (GraftVersions): version 3's object set, superseded content
    * served from the table's archive. `VERSION AS OF '1..3'` is the
    * incremental DELTA view instead: objects first added/rewritten in
    * versions (1, 3], content as of 3 — the catalog face of
    * `path@v1..3`. The view's schema comes from its own first object
    * when one exists (each object is self-describing — a snapshot
    * taken before an ALTER TABLE reads with its generation's
    * columns), falling back to the current sidecar for empty views. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tableDir(ident)
    if (!dir.isDirectory) throw new NoSuchTableException(ident)
    require(version.matches("\\d+(\\.\\.\\d+)?"),
      s"graft catalog: VERSION AS OF wants <k> or '<a>..<b>', got $version")
    val snap = s"${dir.getPath}@v$version"
    val schema = GraftObjectTable.listObjects(snap).headOption
      .map(ObjectFormat.headerSchema)
      .getOrElse(resolveSchema(ident, dir))
    new GraftObjectTable(schema, snap)
  }

  /** `TIMESTAMP AS OF <ts>`: Spark hands the instant as MICROseconds
    * since epoch; resolve it to the latest version committed at or
    * before it (commit wall-clocks live in the `_log` lines) and
    * serve that snapshot. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = tableDir(ident)
    if (!dir.isDirectory) throw new NoSuchTableException(ident)
    val v = GraftVersions.versionAt(dir.getPath, timestamp / 1000L)
    loadTable(ident, v.toString)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val dir = tableDir(ident)
    if (dir.isDirectory) throw new TableAlreadyExistsException(ident)
    require(partitions.isEmpty,
      "graft catalog: partition transforms are not supported " +
        "(objects are the partitioning unit)")
    import scala.jdk.CollectionConverters._
    // CREATE and ALTER agree on property handling: Spark-reserved keys
    // (provider/location/owner/… — injected by the engine, not the
    // user) are ignored, but an unknown USER key throws here exactly
    // as alterTable SET does — a typo'd 'check.len' must not silently
    // vanish at CREATE only to "work" differently at ALTER
    val userProps = properties.asScala.toMap.filter {
      case (k, _) => !SparkReservedProps.contains(k)
    }
    userProps.keys.find(!storable(_)).foreach { k =>
      throw new IllegalArgumentException(
        s"graft catalog: unsupported table property $k")
    }
    // compile check.* NOW (schema is in hand): a malformed CHECK
    // declared at CREATE fails the CREATE, not the first write
    GraftChecks.compile(schema, userProps.collect {
      case (k, v) if k.startsWith(GraftChecks.Prefix) =>
        k.substring(GraftChecks.Prefix.length) -> v
    })
    Files.createDirectories(dir.toPath)
    Files.write(schemaSidecar(dir).toPath,
      schema.toDDL.getBytes(StandardCharsets.UTF_8))
    // persist the option-default properties; a declared clusterBy also
    // implies clusteredBy so plain SELECTs read the table AS clustered
    val kept = userProps
    val full = kept.get("clusterBy") match {
      case Some(c) if !kept.contains("clusteredBy") =>
        kept + ("clusteredBy" -> c)
      case _ => kept
    }
    writeProps(dir, full)
    new GraftObjectTable(schema, dir.getPath, full)
  }

  /** Schema evolution, metadata-first (bodies are positional and
    * name-mapped at read):
    *  - ADD COLUMN: sidecar only — older objects read null for it;
    *  - DROP COLUMN: sidecar only — older objects' data is ignored by
    *    the name-based projection;
    *  - RENAME COLUMN: sidecar + a header-DDL patch per object (names
    *    live only in headers; bodies and footers are untouched).
    * Type changes are refused: they would reinterpret stored bytes. */
  /** Adding a CHECK constraint to a table that already holds data
    * validates the existing rows first (the Delta discipline): one
    * distributed count of `pred <=> false` rows — refused when any
    * violate, so a stored constraint always means EVERY row satisfies
    * it, past and future. */
  private def validateExistingRows(dir: File, name: String,
      sql: String): Unit = {
    if (GraftObjectTable.listObjects(dir.getPath).isEmpty) return
    val spark = org.apache.spark.sql.SparkSession.active
    val bad = spark.read.format("graft-objects").load(dir.getPath)
      .where(org.apache.spark.sql.functions.expr(sql)
        .eqNullSafe(org.apache.spark.sql.functions.lit(false)))
      .count()
    require(bad == 0,
      s"ALTER: $bad existing rows violate CHECK '$name' ($sql); " +
        "constraint not added")
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!dir.isDirectory) throw new NoSuchTableException(ident)
    var schema = resolveSchema(ident, dir)
    var props = readProps(dir)
    var propsChanged = false
    changes.foreach {
      case set: TableChange.SetProperty =>
        require(storable(set.property()),
          s"graft catalog: unsupported table property ${set.property()}")
        if (set.property().startsWith(GraftChecks.Prefix)) {
          // reject malformed predicates at ALTER time, then existing data
          GraftChecks.compile(schema,
            Map(set.property().substring(GraftChecks.Prefix.length)
              -> set.value()))
          validateExistingRows(dir,
            set.property().substring(GraftChecks.Prefix.length), set.value())
        }
        props += set.property() -> set.value(); propsChanged = true
      case rm: TableChange.RemoveProperty =>
        props -= rm.property(); propsChanged = true
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "graft catalog: nested ADD COLUMN is not supported")
        require(add.isNullable,
          "graft catalog: added columns must be nullable " +
            "(existing objects read them as null)")
        val name = add.fieldNames()(0)
        require(!schema.fieldNames.contains(name),
          s"ALTER: column $name already exists")
        schema = schema.add(
          org.apache.spark.sql.types.StructField(name, add.dataType(),
            nullable = true))
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1,
          "graft catalog: nested DROP COLUMN is not supported")
        val name = del.fieldNames()(0)
        require(schema.fieldNames.contains(name),
          s"ALTER: no such column $name")
        require(schema.length > 1, "ALTER: cannot drop the last column")
        schema = StructType(schema.filterNot(_.name == name))
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames().length == 1,
          "graft catalog: nested RENAME COLUMN is not supported")
        val from = ren.fieldNames()(0)
        val to = ren.newName()
        require(schema.fieldNames.contains(from),
          s"ALTER: no such column $from")
        require(!schema.fieldNames.contains(to),
          s"ALTER: column $to already exists")
        GraftObjectTable.listObjects(dir.getPath)
          .foreach(ObjectFormat.renameHeaderColumn(_, from, to))
        schema = StructType(schema.map(f =>
          if (f.name == from) f.copy(name = to) else f))
      case upd: TableChange.UpdateColumnType =>
        // type-WIDENING evolution (int→bigint, float→double): the
        // sidecar speaks the wide type from here on; existing objects
        // keep their narrow physical encoding and readers upcast at
        // decode by name (the added-column null discipline applied to
        // widths). Narrowing or cross-kind changes are refused — they
        // would need a rewrite, which is a relayout job, not an ALTER.
        require(upd.fieldNames().length == 1,
          "graft catalog: nested ALTER COLUMN TYPE is not supported")
        val cname = upd.fieldNames()(0)
        val idx = schema.fieldNames.indexOf(cname)
        require(idx >= 0, s"ALTER: no such column $cname")
        val from = schema(idx).dataType
        require(ObjectFormat.widenable(from, upd.newDataType()),
          s"ALTER: cannot change $cname from ${from.catalogString} to " +
            s"${upd.newDataType().catalogString} — only lossless " +
            "widenings (int->bigint, float->double) are supported")
        schema = StructType(schema.map(f =>
          if (f.name == cname) f.copy(dataType = upd.newDataType()) else f))
      case other =>
        throw new UnsupportedOperationException(
          s"graft catalog: unsupported ALTER TABLE change $other")
    }
    Files.write(schemaSidecar(dir).toPath,
      schema.toDDL.getBytes(StandardCharsets.UTF_8))
    if (propsChanged) writeProps(dir, props)
    new GraftObjectTable(schema, dir.getPath, props)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!dir.isDirectory) false
    else {
      // recursive: the version archive is a subdirectory
      def rm(f: File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(dir); !dir.exists()
    }
  }

  /** Rename moves the directory AND re-prefixes the `<name>.<seq>`
    * objects (object names embed the table name — the store's naming
    * contract). */
  override def renameTable(oldIdent0: Identifier, newIdent0: Identifier): Unit = {
    // Spark hands RENAME TO's target through unresolved: a fully
    // qualified `cat.ns.t` arrives with the catalog name still in the
    // namespace. Strip it so both `RENAME TO cat.ns.t2` and the
    // catalog-relative `RENAME TO ns.t2` land in <root>/ns/t2.
    def normalize(i: Identifier): Identifier =
      if (i.namespace().headOption.contains(catalogName))
        Identifier.of(i.namespace().drop(1), i.name())
      else i
    val oldIdent = normalize(oldIdent0); val newIdent = normalize(newIdent0)
    val from = tableDir(oldIdent)
    if (!from.isDirectory) throw new NoSuchTableException(oldIdent)
    val to = tableDir(newIdent)
    if (to.isDirectory) throw new TableAlreadyExistsException(newIdent)
    Files.createDirectories(to.toPath.getParent)
    require(from.renameTo(to), s"rename: cannot move $from to $to")
    val oldName = oldIdent.name(); val newName = newIdent.name()
    Option(to.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches(
        java.util.regex.Pattern.quote(oldName) + "\\.\\d+"))
      .foreach { f =>
        val seq = f.getName.substring(oldName.length + 1)
        require(f.renameTo(new File(to, s"$newName.$seq")),
          s"rename: cannot re-prefix ${f.getName}")
      }
    // version history travels with the table: re-prefix archived
    // object names and the log's name references too
    GraftVersions.renameTable(to.getPath, oldName, newName)
  }

  // ---- SupportsNamespaces: the reference's pool model as SQL DDL ----
  // A namespace = a directory level under the root (pool ≈ namespace,
  // SURVEY §1.1); CREATE/SHOW/DROP NAMESPACE manage it. Metadata-only.

  private def nsDir(namespace: Array[String]): File =
    new File((root +: namespace).mkString("/"))

  override def listNamespaces(): Array[Array[String]] = {
    val r = new File(root)
    Option(r.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(d => Array(d.getName))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val d = nsDir(namespace)
    if (!d.isDirectory) throw new NoSuchNamespaceException(namespace)
    // tables are directories too: nested namespaces are directories
    // that do NOT hold a `_schema.ddl`/objects table layout
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory &&
        !new File(f, "_schema.ddl").isFile &&
        GraftObjectTable.listObjects(f.getPath).isEmpty)
      .map(f => namespace :+ f.getName)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    nsDir(namespace).isDirectory

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    new util.HashMap[String, String]()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(namespace))
      throw new NamespaceAlreadyExistsException(namespace)
    Files.createDirectories(nsDir(namespace).toPath)
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val d = nsDir(namespace)
    if (!d.isDirectory) return false
    val tables = listTables(namespace)
    val nested = listNamespaces(namespace)
    if ((tables.nonEmpty || nested.nonEmpty) && !cascade)
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty " +
          s"(${tables.length} tables, ${nested.length} namespaces); use CASCADE")
    // cascade: depth-first into nested namespaces, then own tables —
    // and surface a failed delete instead of returning an ignored false
    nested.foreach(n => dropNamespace(n, cascade = true))
    tables.foreach(dropTable)
    if (!d.delete())
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")}: directory not removable " +
          "(unexpected residual files)")
    true
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = nsDir(namespace)
    if (!d.isDirectory) throw new NoSuchNamespaceException(namespace)
    // a table directory holds a schema sidecar or objects; a bare
    // directory is a (nested) namespace, not a table
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory &&
        (new File(f, "_schema.ddl").isFile ||
          GraftObjectTable.listObjects(f.getPath).nonEmpty))
      .map(f => Identifier.of(namespace, f.getName))
  }
}
