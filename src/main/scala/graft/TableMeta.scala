package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Everything the engine knows about one table beyond its Spark schema.
  *
  * The reference keeps one record per table: a `TableToken` filed in
  * `TableNameRegistry` (core/src/main/java/io/questdb/cairo/TableToken.java,
  * TableNameRegistryStore.java). DROP removes the token, and RENAME files
  * the same token under the new name, so the table keeps its id, WAL
  * state and metadata. The same holds here: [[SessionCatalog]] maps a
  * lower-cased table name to one `TableMeta`, so DROP is one remove,
  * RENAME re-keys the record and TRUNCATE is one record update.
  *
  * @param id             monotonic table id; 0 until first assigned
  * @param created        set by a plain CREATE TABLE (column list)
  * @param createTail     partition/TTL/WAL spelling for SHOW CREATE TABLE
  * @param parquet        format of partitions born from now on
  * @param partitionParquet per-partition format fixed by SET FORMAT or
  *                       CONVERT PARTITION
  * @param columns        declared column types and storage knobs
  * @param designatedTs   the `timestamp(c)` column
  * @param fallbackTs     CTAS time column used by the deprecated LATEST BY
  *                       when there is no designated timestamp
  * @param symbols        write-time symbol dictionaries per column
  * @param txnLog         one record per commit (wal_transactions())
  * @param path           source path (ingest dir or checkpoint restore)
  * @param view           the definition when the name is a view
  * @param pinnedView     plain-view definition pinned by CHECKPOINT CREATE
  */
final case class TableMeta(
    id: Int = 0,
    created: Boolean = false,
    partitionBy: Option[String] = None,
    walEnabled: Boolean = false,
    dedup: Boolean = false,
    ttl: Option[(Int, String)] = None,
    maxUncommittedRows: Option[Long] = None,
    createTail: Option[String] = None,
    parquet: Boolean = false,
    partitionParquet: Map[String, Boolean] = Map.empty,
    columns: Map[String, TableMeta.ColDecl] = Map.empty,
    dedupKeys: Seq[String] = Nil,
    designatedTs: Option[String] = None,
    fallbackTs: Option[String] = None,
    symbols: Map[String, Catalog.SymDict] = Map.empty,
    wal: TableMeta.WalState = TableMeta.WalRunning,
    txnCount: Long = 0L,
    txnLog: Vector[TableMeta.WalTxnRec] = Vector.empty,
    path: Option[String] = None,
    view: Option[TableMeta.View] = None,
    pinnedView: Option[String] = None) {
  import TableMeta._

  /** Declared type spelling of a column, upper-cased. */
  def declaredType(col: String): Option[String] =
    columns.get(col.toLowerCase).map(_.tpe.toUpperCase)

  def declares(col: String, typePrefix: String): Boolean =
    declaredType(col).exists(_.startsWith(typePrefix))

  /** Record a column's declared type unless one is declared already
    * (CTAS provenance such as an `::ipv4` select item). */
  def withColumnIfAbsent(col: String, tpe: String): TableMeta =
    if (columns.contains(col.toLowerCase)) this
    else copy(columns = columns + (col.toLowerCase -> ColDecl(tpe, "")))

  def partitionIsParquet(part: String): Boolean =
    partitionParquet.getOrElse(part, parquet)

  def matView: Option[MatView] = view.collect { case m: MatView => m }
  def liveView: Option[LiveView] = view.collect { case l: LiveView => l }
  def plainView: Option[String] = view.collect { case PlainView(sql) => sql }
}

object TableMeta {
  /** Column type spelling plus storage knobs as declared at CREATE. */
  final case class ColDecl(tpe: String, knobs: String)

  /** ALTER ... SUSPEND/RESUME WAL state for wal_tables(). */
  final case class WalState(suspended: Boolean, errorTag: String, errorMessage: String)
  val WalRunning: WalState = WalState(suspended = false, null, null)

  /** One commit: (seq, wall clock, batch min ts, batch max ts, rows). */
  final case class WalTxnRec(seq: Long, wall: java.sql.Timestamp,
                             minTs: java.sql.Timestamp, maxTs: java.sql.Timestamp,
                             rows: Long)

  sealed trait View

  /** CREATE VIEW: the definition, re-evaluated on every read. */
  final case class PlainView(sql: String) extends View

  /** Dirty designated-ts range covering everything. */
  val FullRange: (Long, Long) = (Long.MinValue, Long.MaxValue)

  /** CREATE MATERIALIZED VIEW: `base` is the WITH BASE table or the
    * definition's FROM table; `dirty` holds the designated-ts ranges
    * (micros, half-open) written since the last read. */
  final case class MatView(sql: String, base: String, refreshKind: String,
                           deferred: Boolean, bucket: String,
                           dirty: List[(Long, Long)] = Nil) extends View {
    def autoRefresh: Boolean =
      !deferred && (refreshKind == "IMMEDIATE" ||
        refreshKind.startsWith("EVERY") || refreshKind.startsWith("PERIOD"))
  }

  /** Declarative pieces of a dialect live view, for live_views() and
    * SHOW CREATE LIVE VIEW. */
  final case class LiveSpec(base: String, sql: String,
                            flushN: Long, flushUnit: String,
                            memN: Long, memUnit: String,
                            partitionBy: String, startFrom: String)

  /** A live view. `rebind` is the stored SELECT a dialect live view
    * re-binds on every read (a streaming view has none). */
  final case class LiveView(dir: String, seam: () => Long,
                            rebind: Option[String] = None,
                            spec: Option[LiveSpec] = None) extends View
}

/** The per-session table catalog: one `ConcurrentHashMap` from the
  * lower-cased table name to its [[TableMeta]], plus the session's
  * registration latches. Temp views are session-scoped in Spark and they
  * are this engine's tables, so their records are session-scoped too:
  * two Engines in one JVM never see each other's tables.
  */
final class SessionCatalog private () {
  import SessionCatalog.key

  private val tables = new java.util.concurrent.ConcurrentHashMap[String, TableMeta]()
  private val idCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Memo of constructed fixture scans per (dir, table): a lazy plan, so
    * only the file listing and footer schema are reused. */
  private[graft] val fixtureScans =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
  /** Directory whose fixture tables are registered as temp views; null
    * once DDL may have replaced one of them. */
  @volatile private[graft] var viewsDir: String = null
  /** Directory the fixture tables were last loaded from. */
  @volatile private[graft] var fixtureDir: String = null
  private[graft] val functionsRegistered = new java.util.concurrent.atomic.AtomicBoolean(false)
  /** information_schema / pg_catalog snapshots built since the last DDL. */
  @volatile private[graft] var snapshotViewsBuilt: (Boolean, Boolean) = (false, false)

  /** A record's starting point: fixture tables keep their conventional
    * designated timestamp ([[Tables.designatedTs]]). */
  private def fresh(k: String): TableMeta = TableMeta(designatedTs = Tables.designatedTs.get(k))

  def get(name: String): Option[TableMeta] = Option(tables.get(key(name)))

  /** Atomically replace a table's record (creating it if absent). */
  def update(name: String)(f: TableMeta => TableMeta): TableMeta =
    tables.compute(key(name), (k, cur) => f(if (cur == null) fresh(k) else cur))

  /** Apply `f` to every record. */
  def updateAll(f: TableMeta => TableMeta): Unit =
    tables.replaceAll((_, m) => f(m))

  /** CREATE TABLE: a new record under `name`; the id survives a
    * re-create over a live name. */
  def create(name: String)(f: TableMeta => TableMeta): TableMeta =
    tables.compute(key(name), (k, cur) =>
      f(fresh(k).copy(id = if (cur == null) 0 else cur.id, created = true)))

  def remove(name: String): Option[TableMeta] = Option(tables.remove(key(name)))

  /** RENAME: the whole record moves to the new name, replacing whatever
    * was filed there. */
  def rename(from: String, to: String): Unit = {
    val moved = remove(from)
    remove(to)
    moved.foreach(m => tables.put(key(to), m))
  }

  /** DROP ALL and the parity harness's reset. */
  def clear(): Unit = { tables.clear(); idCounter.set(0) }

  def snapshot: Seq[(String, TableMeta)] = {
    import scala.jdk.CollectionConverters._
    tables.asScala.toSeq
  }

  /** Monotonic table id (reference TableToken id): assigned on first
    * sight, freed at DROP, so a re-created table gets a larger one. */
  def idOf(name: String): Int = {
    val m = update(name)(m => if (m.id == 0) m.copy(id = idCounter.incrementAndGet()) else m)
    m.id
  }

  def designatedTs(name: String): Option[String] =
    get(name) match {
      case Some(m) => m.designatedTs
      case None => Tables.designatedTs.get(key(name))
    }

  /** Every designated timestamp name in the session (ns-carrier
    * recognition on derived relations). */
  def designatedTsNames: Set[String] =
    snapshot.flatMap(_._2.designatedTs).toSet ++ Tables.designatedTs.values

  /** Tables with declared columns. */
  def declared: Seq[(String, Map[String, TableMeta.ColDecl])] =
    snapshot.collect { case (n, m) if m.columns.nonEmpty => (n, m.columns) }

  /** Every declared type spelling (upper-cased) for a column name across
    * the session's tables — provenance hints for output formatting. */
  def declaredTypesOf(colLower: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    tables.values.asScala.flatMap(_.declaredType(colLower)).toSet
  }

  def views: Seq[(String, TableMeta.View)] =
    snapshot.flatMap { case (n, m) => m.view.map(n -> _) }

  /** Source path of a table: an explicit one, else the fixture parquet
    * file under the registered data dir. */
  def pathOf(name: String): Option[String] =
    get(name).flatMap(_.path).orElse {
      val k = key(name)
      Option(fixtureDir).filter(_ => Tables.names.contains(k)).map(d => s"$d/$k.parquet")
    }

  /** Every table with a source path (checkpoint walk). */
  def paths: Map[String, String] =
    (Tables.names.flatMap(n => pathOf(n).map(n -> _)) ++
      snapshot.flatMap { case (n, m) => m.path.map(n -> _) }).toMap

  /** True when the fixture tables of `dir` still need registering; they
    * then point at `dir` again (a checkpoint restore re-points them). */
  private[graft] def claimRegistration(dir: String): Boolean = synchronized {
    val claim = viewsDir != dir
    viewsDir = dir
    fixtureDir = dir
    if (claim) Tables.names.foreach(n => tables.computeIfPresent(n, (_, m) => m.copy(path = None)))
    claim
  }
}

object SessionCatalog {
  private val bySession = new java.util.WeakHashMap[SparkSession, SessionCatalog]()

  /** The catalog of `spark`, keyed by the session object itself. */
  def apply(spark: SparkSession): SessionCatalog = bySession.synchronized {
    var c = bySession.get(spark)
    if (c == null) { c = new SessionCatalog; bySession.put(spark, c) }
    c
  }

  private[graft] def all: Seq[SessionCatalog] = bySession.synchronized {
    import scala.jdk.CollectionConverters._
    bySession.values.asScala.toSeq
  }

  /** Registry key of a table name: the last dotted part, lower-cased. */
  def key(name: String): String = name.split('.').last.toLowerCase
}
