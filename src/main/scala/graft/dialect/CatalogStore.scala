package graft.dialect

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogTableType
import scala.collection.concurrent.TrieMap

/** Durable DDL catalog: makes CREATE TABLE / DICTIONARY / PROJECTION
  * survive a JVM restart, like the reference's per-credential chdb
  * session (/root/reference/main.py:140-150: `Session(path=...)` is a
  * persistent on-disk catalog — tables created yesterday answer today).
  *
  * Spark's in-memory catalog forgets every table when the JVM exits
  * while the managed parquet directories persist; before this module
  * the engine treated those directories as orphans and DELETED them to
  * unblock re-CREATE (Ddl.cleanOrphanLocation). Now every DDL that
  * creates or reshapes a table writes a small `_graft_meta.json` INTO
  * the table's directory (underscore-prefixed names are invisible to
  * Spark's file listing, like `_SUCCESS`), holding the column schema,
  * the MergeTree metadata (PARTITION/ORDER/SAMPLE BY, engine merge
  * inputs, TTL) and the table's projections. Dictionaries and
  * materialized views — which have no directory of their own — persist
  * in central JSON files under `<warehouse>/_graft_catalog/`.
  *
  * Restore is lazy and once-per-warehouse: the first Engine statement
  * of a fresh JVM scans the warehouse for meta files and re-registers
  * each table at its existing location (CREATE ... USING PARQUET
  * LOCATION, partitions rediscovered with MSCK REPAIR), then flips the
  * catalog entry back to MANAGED so DROP/RENAME keep their ClickHouse
  * delete/move semantics — a restored table is byte-for-byte the same
  * citizen as a freshly created one. At 100 TB this is the difference
  * between re-ingesting the warehouse after every driver restart and
  * a metadata-only recovery: restore cost is one directory listing +
  * one tiny JSON read per table, never a data scan.
  *
  * Divergence, in the user's favor: ClickHouse `ENGINE=Memory` tables
  * survive a restart as EMPTY tables (definition persists, rows do
  * not). The parquet mapping is disk-backed for every engine, so here
  * Memory tables come back with their rows — a superset of the
  * reference's behavior, documented rather than emulated by deleting
  * user data.
  *
  * Kill switch: `spark.graft.catalog.persist=false` disables both save
  * and restore (the pre-round-12 in-memory-only behavior).
  */
object CatalogStore {

  private val MetaFile = "_graft_meta.json"
  /** `DETACH TABLE ... PERMANENTLY` marker: a dir carrying it is
    * invisible to the warehouse restore until ATTACH removes it. */
  private[dialect] val DetachedMarker = "_graft_detached_permanently"
  private val Version = 1

  private[dialect] def enabled(spark: SparkSession): Boolean =
    !spark.conf.getOption("spark.graft.catalog.persist").contains("false")

  private def warehousePath(spark: SparkSession): java.nio.file.Path = {
    val raw = spark.conf.get("spark.sql.warehouse.dir")
    val uri = new java.net.URI(raw)
    if (uri.getScheme == "file") java.nio.file.Paths.get(uri.getPath)
    else java.nio.file.Paths.get(raw.stripPrefix("file:"))
  }

  private def tableLocation(spark: SparkSession,
                            bare: String): Option[java.nio.file.Path] =
    try {
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(bare)
      val loc = spark.sessionState.catalog.getTableMetadata(ident).location
      Some(java.nio.file.Paths.get(new java.net.URI(loc.toString).getPath))
    } catch { case _: Throwable => None }

  // ---- JSON (json4s ships with Spark; no new dependency) ----
  import org.json4s._
  import org.json4s.jackson.JsonMethods
  import org.json4s.JsonDSL._

  private def writeJson(p: java.nio.file.Path, j: JValue): Unit = {
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, JsonMethods.pretty(JsonMethods.render(j))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def readJson(p: java.nio.file.Path): Option[JValue] =
    if (!java.nio.file.Files.isRegularFile(p)) None
    else try Some(JsonMethods.parse(new String(
      java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8)))
    catch { case _: Throwable => None }

  private def str(j: JValue): Option[String] = j match {
    case JString(s) => Some(s); case _ => None
  }
  private def strs(j: JValue): Seq[String] = j match {
    case JArray(xs) => xs.flatMap(str); case _ => Nil
  }

  // ---- save ----

  /** Persist one table's metadata beside its data. Called by every
    * DDL that creates or changes a table's schema/MergeTree metadata/
    * projections; no-throw (a failed save must never fail the DDL —
    * worst case the table degrades to pre-persistence behavior). */
  def save(spark: SparkSession, name: String): Unit = if (enabled(spark)) {
    try {
      val bare = name.replace("`", "")
      val norm = Ddl.normalizeName(spark, bare)
      val Array(db, tbl) = norm.split("\\.", 2)
      val loc = tableLocation(spark, norm).getOrElse(return)
      val schema = spark.table(norm).schema
      val partitioned = schema.fieldNames.contains("_part")
      val meta = Ddl.metaOf(norm)
      val projs = Projections.forTable(norm)
      val j: JValue =
        ("v" -> Version) ~
        ("db" -> db) ~ ("table" -> tbl) ~
        ("partitioned" -> partitioned) ~
        ("columns" -> schema.fields.filterNot(_.name == "_part").toList
          .map(f => ("name" -> f.name) ~ ("type" -> f.dataType.sql))) ~
        ("partitionExpr" -> meta.flatMap(_.partitionExpr)) ~
        ("orderBy" -> meta.map(_.orderBy.toList).getOrElse(Nil)) ~
        ("sampleBy" -> meta.flatMap(_.sampleBy)) ~
        ("replacingVer" -> meta.flatMap(_.replacingVer)) ~
        ("summingCols" -> meta.flatMap(_.summingCols).map(_.toList)) ~
        ("collapsingSign" -> meta.flatMap(_.collapsing).map(_._1)) ~
        ("collapsingVer" -> meta.flatMap(_.collapsing).map(_._2)) ~
        ("columnDefaults" -> meta.map(_.columnDefaults.toList.map(p =>
          ("name" -> p._1) ~ ("expr" -> p._2))).getOrElse(Nil)) ~
        ("columnComments" -> meta.map(_.columnComments.toList.map(p =>
          ("name" -> p._1) ~ ("text" -> p._2))).getOrElse(Nil)) ~
        ("columnMaterialized" -> meta.map(_.columnMaterialized.toList.map(p =>
          ("name" -> p._1) ~ ("expr" -> p._2))).getOrElse(Nil)) ~
        ("columnAliases" -> meta.map(_.columnAliases.toList.map(p =>
          ("name" -> p._1) ~ ("type" -> p._2) ~ ("expr" -> p._3)))
          .getOrElse(Nil)) ~
        ("columnEphemeral" -> meta.map(_.columnEphemeral.toList.map(p =>
          ("name" -> p._1) ~ ("type" -> p._2) ~ ("expr" -> p._3)))
          .getOrElse(Nil)) ~
        ("engineSpec" -> meta.flatMap(_.engineSpec)) ~
        ("aggregating" -> meta.exists(_.aggregating)) ~
        ("aggCols" -> meta.map(_.aggCols.toList.map(p =>
          ("name" -> p._1) ~ ("spec" -> p._2))).getOrElse(Nil)) ~
        ("tableComment" -> meta.flatMap(_.tableComment)) ~
        ("ttl" -> meta.flatMap(_.ttl)) ~
        ("projections" -> projs.map { p =>
          ("name" -> p.name) ~ ("keys" -> p.keys.toList) ~
          ("store" -> p.store) ~ ("complete" -> p.complete) ~
          ("aggs" -> p.aggs.toList.map(a =>
            ("fn" -> a.fn) ~ ("column" -> a.column)))
        })
      writeJson(loc.resolve(MetaFile), j)
    } catch { case _: Throwable => () }
  }

  // ---- dictionaries / materialized views (central files) ----

  private def catalogDir(spark: SparkSession): java.nio.file.Path =
    warehousePath(spark).resolve("_graft_catalog")

  /** Trash area DROP TABLE stages into (UNDROP's source). Underscore-
    * prefixed and one level deep, so the restore scan never lists it. */
  private[dialect] def droppedDir(spark: SparkSession): java.nio.file.Path =
    warehousePath(spark).resolve("_graft_dropped")

  /** The managed location a table of this name would occupy — where an
    * UNDROP moves the trashed directory back to. */
  private[dialect] def managedLocation(spark: SparkSession, db: String,
                                       tbl: String): java.nio.file.Path =
    if (db == "default") warehousePath(spark).resolve(tbl)
    else warehousePath(spark).resolve(s"$db.db").resolve(tbl)

  def saveDictionaries(spark: SparkSession): Unit = if (enabled(spark)) {
    try {
      val j: JValue = JArray(Dictionaries.all.map { m =>
        val x: JValue =
          ("name" -> m.name) ~ ("keyCol" -> m.keyCol) ~
          ("source" -> m.source) ~
          ("rangeLo" -> m.range.map(_._1)) ~
          ("rangeHi" -> m.range.map(_._2)) ~
          ("lifetimeMin" -> m.lifetime.map(_._1)) ~
          ("lifetimeMax" -> m.lifetime.map(_._2)) ~
          ("attrs" -> m.attrs.toList.map(a =>
            ("name" -> a.name) ~ ("chType" -> a.chType) ~
            ("default" -> a.default)))
        x
      }.toList)
      writeJson(catalogDir(spark).resolve("dictionaries.json"), j)
    } catch { case _: Throwable => () }
  }

  def saveFunctions(spark: SparkSession): Unit = if (enabled(spark)) {
    try {
      val j: JValue = JArray(UserFunctions.all.map { u =>
        val x: JValue = ("name" -> u.name) ~ ("params" -> u.params.toList) ~
          ("body" -> u.body)
        x
      }.toList)
      writeJson(catalogDir(spark).resolve("functions.json"), j)
    } catch { case _: Throwable => () }
  }

  def saveMatViews(spark: SparkSession): Unit = if (enabled(spark)) {
    try {
      val j: JValue = JArray(Ddl.matViewsAll.map { case (name, mv) =>
        val x: JValue = ("name" -> name) ~ ("target" -> mv.target) ~
          ("src" -> mv.src) ~ ("body" -> mv.body)
        x
      }.toList)
      writeJson(catalogDir(spark).resolve("matviews.json"), j)
    } catch { case _: Throwable => () }
  }

  // ---- restore ----

  /** warehouse path -> restored flag (per-credential sessions each have
    * their own scratch warehouse; each restores its own, once). */
  private val restoredFlags = TrieMap.empty[String, Object]
  private val restoredDone = TrieMap.empty[String, Boolean]

  /** Lazy once-per-warehouse restore — the first engine statement of a
    * JVM pays one directory listing; every later statement is a single
    * map lookup. */
  def ensureRestored(spark: SparkSession): Unit = {
    if (!enabled(spark)) return
    val key = spark.conf.get("spark.sql.warehouse.dir")
    if (restoredDone.getOrElse(key, false)) return
    val lock = restoredFlags.getOrElseUpdate(key, new Object)
    lock.synchronized {
      if (!restoredDone.getOrElse(key, false)) {
        try restoreAll(spark) catch { case _: Throwable => () }
        restoredDone.put(key, true)
      }
    }
  }

  /** Test hook: forget that this warehouse was restored, so the next
    * engine statement rescans it. */
  private[graft] def resetRestored(spark: SparkSession): Unit =
    restoredDone.remove(spark.conf.get("spark.sql.warehouse.dir"))

  /** Scan the warehouse for `_graft_meta.json` files and re-register
    * every table the in-memory catalog does not know. Metadata-only:
    * no data is read (MSCK lists partition directories). */
  private def restoreAll(spark: SparkSession): Unit = {
    val wh = warehousePath(spark)
    if (!java.nio.file.Files.isDirectory(wh)) return
    import scala.jdk.CollectionConverters._
    def children(d: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala.toList.filter(java.nio.file.Files.isDirectory(_))
      finally s.close()
    }
    // <warehouse>/<tbl> (default db) and <warehouse>/<db>.db/<tbl>
    val candidates: Seq[java.nio.file.Path] = children(wh).flatMap { c =>
      if (c.getFileName.toString.endsWith(".db")) children(c) else Seq(c)
    }
    val metas = candidates.flatMap { dir =>
      // permanently-detached tables stay invisible across restarts
      // (plain DETACH re-attaches on restart, ClickHouse semantics)
      if (java.nio.file.Files.exists(dir.resolve(DetachedMarker))) None
      else readJson(dir.resolve(MetaFile)).map(j => (dir, j))
    }
    metas.foreach { case (dir, j) => restoreTable(spark, dir, j) }
    // second pass: projections reference their (now restored) stores
    metas.foreach { case (_, j) => restoreProjections(j) }
    restoreDictionaries(spark)
    restoreMatViews(spark)
    restoreFunctions(spark)
  }

  private def restoreFunctions(spark: SparkSession): Unit =
    readJson(catalogDir(spark).resolve("functions.json")).foreach {
      case JArray(fs) => fs.foreach { f =>
        for (name <- str(f \ "name"); body <- str(f \ "body"))
          UserFunctions.restore(name, strs(f \ "params"), body)
      }
      case _ => ()
    }

  /** UNDROP entry: re-register ONE table from its (just moved back)
    * directory. Projections are NOT restored — their store tables were
    * hard-deleted at DROP — and the meta file is re-saved afterwards so
    * a later full restore doesn't resurrect dangling projection defs.
    * Returns false if the directory holds no readable meta. */
  private[dialect] def restoreOne(spark: SparkSession,
                                  dir: java.nio.file.Path): Boolean =
    readJson(dir.resolve(MetaFile)) match {
      case Some(j) =>
        restoreTable(spark, dir, j)
        (for (db <- str(j \ "db"); tbl <- str(j \ "table"))
          yield s"$db.$tbl").foreach(n => save(spark, n))
        true
      case None => false
    }

  private def restoreTable(spark: SparkSession, dir: java.nio.file.Path,
                           j: JValue): Unit = try {
    val db = str(j \ "db").getOrElse(return)
    val tbl = str(j \ "table").getOrElse(return)
    val norm = s"$db.$tbl"
    if (spark.sessionState.catalog.tableExists(
        TableIdentifier(tbl, Some(db)))) return
    val partitioned = (j \ "partitioned") == JBool(true)
    val cols = (j \ "columns") match {
      case JArray(cs) => cs.flatMap(c =>
        for (n <- str(c \ "name"); t <- str(c \ "type"))
          yield s"`$n` $t")
      case _ => Nil
    }
    if (cols.isEmpty) return
    if (db != "default")
      spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    val locUri = dir.toUri.toString.stripSuffix("/")
    spark.sql(
      if (partitioned)
        s"CREATE TABLE `$db`.`$tbl` (${cols.mkString(", ")}, `_part` INT) " +
          s"USING PARQUET PARTITIONED BY (`_part`) LOCATION '$locUri'"
      else
        s"CREATE TABLE `$db`.`$tbl` (${cols.mkString(", ")}) " +
          s"USING PARQUET LOCATION '$locUri'")
    if (partitioned) spark.sql(s"MSCK REPAIR TABLE `$db`.`$tbl`")
    // flip EXTERNAL -> MANAGED: DROP must delete data and RENAME must
    // move the directory, exactly like a freshly created table
    val ec = spark.sharedState.externalCatalog
    ec.alterTable(ec.getTable(db, tbl).copy(tableType = CatalogTableType.MANAGED))
    Ddl.putMeta(norm, Ddl.TableMeta(
      partitionExpr = str(j \ "partitionExpr"),
      orderBy = strs(j \ "orderBy"),
      sampleBy = str(j \ "sampleBy"),
      replacingVer = str(j \ "replacingVer"),
      summingCols = (j \ "summingCols") match {
        case JArray(xs) => Some(xs.flatMap(str))
        case _ => None
      },
      ttl = str(j \ "ttl"),
      // collapsingVer is "" for the unversioned engine — a legitimate
      // value, so key presence (the sign) drives the Option
      collapsing = str(j \ "collapsingSign").map(sg =>
        (sg, str(j \ "collapsingVer").getOrElse(""))),
      columnDefaults = (j \ "columnDefaults") match {
        case JArray(ds) => ds.flatMap(d =>
          for (n <- str(d \ "name"); e <- str(d \ "expr")) yield (n, e))
        case _ => Nil
      },
      columnComments = (j \ "columnComments") match {
        case JArray(ds) => ds.flatMap(d =>
          for (n <- str(d \ "name"); e <- str(d \ "text")) yield (n, e))
        case _ => Nil
      },
      tableComment = str(j \ "tableComment"),
      columnMaterialized = (j \ "columnMaterialized") match {
        case JArray(ds) => ds.flatMap(d =>
          for (n <- str(d \ "name"); e <- str(d \ "expr")) yield (n, e))
        case _ => Nil
      },
      aggregating = (j \ "aggregating") == JBool(true),
      aggCols = (j \ "aggCols") match {
        case JArray(ds) => ds.flatMap(d =>
          for (n <- str(d \ "name"); e <- str(d \ "spec")) yield (n, e))
        case _ => Nil
      },
      columnAliases = (j \ "columnAliases") match {
        case JArray(ds) => ds.flatMap(d =>
          for (n <- str(d \ "name"); t <- str(d \ "type");
               e <- str(d \ "expr")) yield (n, t, e))
        case _ => Nil
      },
      columnEphemeral = (j \ "columnEphemeral") match {
        case JArray(ds) => ds.flatMap(d =>
          for (n <- str(d \ "name"); t <- str(d \ "type");
               e <- str(d \ "expr")) yield (n, t, e))
        case _ => Nil
      },
      engineSpec = str(j \ "engineSpec")))
    // Nested columns persist physically as dotted parallel arrays —
    // re-register their prefixes so `col.field` access keeps working
    cols.foreach { c =>
      val m = "^`([^`.]+)\\.([^`]+)` ".r.findFirstMatchIn(c)
      m.foreach { mm =>
        val prefix = mm.group(1).toLowerCase
        val existing = Transpiler.nestedColumns.getOrElse(prefix, Seq.empty)
        if (!existing.contains(mm.group(2)))
          Transpiler.nestedColumns.put(prefix, existing :+ mm.group(2))
      }
    }
    SkipIndexes.restore(spark, norm, dir)
  } catch { case _: Throwable => () }

  private def restoreProjections(j: JValue): Unit = try {
    val db = str(j \ "db").getOrElse(return)
    val tbl = str(j \ "table").getOrElse(return)
    (j \ "projections") match {
      case JArray(ps) => ps.foreach { p =>
        for (name <- str(p \ "name"); store <- str(p \ "store")) {
          val keys = strs(p \ "keys")
          val aggs = (p \ "aggs") match {
            case JArray(as) => as.flatMap(a =>
              for (fn <- str(a \ "fn"); col <- str(a \ "column"))
                yield Projections.AggDef(fn, col))
            case _ => Nil
          }
          val complete = (p \ "complete") == JBool(true)
          if (keys.nonEmpty && aggs.nonEmpty)
            Projections.restore(s"$db.$tbl", name, keys, aggs, store, complete)
        }
      }
      case _ => ()
    }
  } catch { case _: Throwable => () }

  private def restoreDictionaries(spark: SparkSession): Unit =
    readJson(catalogDir(spark).resolve("dictionaries.json")).foreach {
      case JArray(ds) => ds.foreach { d =>
        try {
          for (name <- str(d \ "name"); keyCol <- str(d \ "keyCol");
               source <- str(d \ "source")) {
            if (!Dictionaries.exists(name)) {
              val attrs = (d \ "attrs") match {
                case JArray(as) => as.flatMap(a =>
                  for (n <- str(a \ "name"); t <- str(a \ "chType"))
                    yield Dictionaries.Attr(n, t, str(a \ "default")))
                case _ => Nil
              }
              val range = for (lo <- str(d \ "rangeLo"); hi <- str(d \ "rangeHi"))
                yield (lo, hi)
              def num(j: JValue): Option[Long] = j match {
                case JInt(n) => Some(n.toLong)
                case JLong(n) => Some(n)
                case _ => None
              }
              val lifetime =
                for (lo <- num(d \ "lifetimeMin"); hi <- num(d \ "lifetimeMax"))
                  yield (lo, hi)
              if (attrs.nonEmpty)
                Dictionaries.create(spark, name, keyCol, attrs, source,
                  ifNotExists = true, range, lifetime)
            }
          }
        } catch { case _: Throwable => () }
      }
      case _ => ()
    }

  private def restoreMatViews(spark: SparkSession): Unit =
    readJson(catalogDir(spark).resolve("matviews.json")).foreach {
      case JArray(ms) => ms.foreach { m =>
        for (name <- str(m \ "name"); target <- str(m \ "target");
             src <- str(m \ "src"); body <- str(m \ "body"))
          Ddl.restoreMatView(name, target, src, body)
      }
      case _ => ()
    }

  // ---- restart simulation (specs / the s18 oracle) ----

  /** Simulate a JVM restart for the GIVEN tables: drop them from the
    * in-memory catalog WITHOUT touching their data (flip to EXTERNAL
    * first — exactly the state a fresh JVM wakes up to), wipe their
    * in-memory registries, and mark the warehouse unrestored so the
    * next engine statement rescans it. Scoped to a table list so a
    * Verify run can restart its own fixture without disturbing
    * unrelated tables mid-suite. */
  private[graft] def simulateRestart(spark: SparkSession,
                                     tables: Seq[String],
                                     dicts: Seq[String] = Nil,
                                     udfs: Seq[String] = Nil): Unit = {
    udfs.foreach(UserFunctions.forgetInMemory)
    val ec = spark.sharedState.externalCatalog
    val all = tables.flatMap { t =>
      val norm = Ddl.normalizeName(spark, t.replace("`", ""))
      norm +: Projections.forTable(norm).map(_.store)
    }
    all.foreach { norm =>
      val Array(db, tbl) = norm.split("\\.", 2)
      try {
        if (spark.sessionState.catalog.tableExists(TableIdentifier(tbl, Some(db)))) {
          ec.alterTable(ec.getTable(db, tbl)
            .copy(tableType = CatalogTableType.EXTERNAL))
          spark.sql(s"DROP TABLE `$db`.`$tbl`")
        }
      } catch { case _: Throwable => () }
      Ddl.forgetMeta(norm)
      Projections.forgetInMemory(norm)
      SkipIndexes.forgetInMemory(norm)
    }
    dicts.foreach(Dictionaries.forgetInMemory)
    Ddl.forgetMatViewsFor(all.map(_.toLowerCase).toSet)
    resetRestored(spark)
  }
}
