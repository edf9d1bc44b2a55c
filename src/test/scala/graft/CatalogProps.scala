package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

/** Property test: random DDL sequences (CREATE with or without a
  * designated timestamp, DEDUP and PARTITION BY; RENAME; DROP; TRUNCATE;
  * CONVERT PARTITION) over three table names keep tables(),
  * SHOW CREATE TABLE and table_partitions() in step with a model map.
  * Each sequence uses its own three names and drops what it left.
  */
object CatalogProps extends Properties("catalog") {
  private lazy val spark = Sessions.local(4)
  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(50)

  /** What a table should look like. `rows` = it holds the one row
    * CREATE inserted (partition 2024-01-01 exists). */
  final case class Model(ts: Boolean, partition: Option[String], wal: Boolean,
                         dedup: Boolean, rows: Boolean, parquet: Boolean)

  /** Table arguments are picks: CREATE and a RENAME target take the
    * pick-th free name, the other ops the pick-th live table, so most
    * generated ops apply. */
  sealed trait Op
  final case class Create(t: Int, ts: Boolean, partition: Option[String], wal: Boolean,
                          dedup: Boolean) extends Op
  final case class Rename(from: Int, to: Int) extends Op
  final case class Drop(t: Int) extends Op
  final case class Truncate(t: Int) extends Op
  final case class Convert(t: Int) extends Op

  private val genTable = Gen.chooseNum(0, 5)
  private val genCreate: Gen[Op] = for {
    t <- genTable
    ts <- Gen.oneOf(true, false)
    part <- if (ts) Gen.option(Gen.oneOf("DAY", "MONTH")) else Gen.const(None)
    wal <- Gen.oneOf(true, false)
    dedup <- if (ts && wal) Gen.oneOf(true, false) else Gen.const(false)
  } yield Create(t, ts, part, wal, dedup)
  private val genOp: Gen[Op] = Gen.frequency(
    4 -> genCreate,
    3 -> Gen.zip(genTable, genTable).map { case (a, b) => Rename(a, b) },
    2 -> genTable.map(Drop(_)),
    1 -> genTable.map(Truncate(_)),
    2 -> genTable.map(Convert(_)))
  private val genOps: Gen[List[Op]] = Gen.chooseNum(3, 6).flatMap(Gen.listOfN(_, genOp))

  /** Apply `ops` to the engine and the model; an op with nothing to pick
    * from (no free name, no live table) is skipped. */
  private def run(names: Seq[String], ops: List[Op]): Map[String, Model] = {
    var model = Map.empty[String, Model]
    def pick(i: Int, live: Boolean): Option[String] = {
      val from = names.filter(n => model.contains(n) == live)
      if (from.isEmpty) None else Some(from(i % from.size))
    }
    object Free { def unapply(i: Int): Option[String] = pick(i, live = false) }
    object Live { def unapply(i: Int): Option[String] = pick(i, live = true) }
    ops.foreach {
      case Create(Free(n), ts, part, wal, dedup) =>
        val tail = (if (ts) " TIMESTAMP(ts)" else "") +
          part.map(p => s" PARTITION BY $p").getOrElse("") +
          (if (wal) " WAL" else " BYPASS WAL") +
          (if (dedup) " DEDUP UPSERT KEYS(ts, x)" else "")
        sql(s"CREATE TABLE $n (x INT, ts TIMESTAMP)$tail")
        sql(s"INSERT INTO $n VALUES (1, '2024-01-01T10:00:00')")
        model += n -> Model(ts, part, wal, dedup, rows = true, parquet = false)
      case Rename(Live(a), Free(b)) =>
        sql(s"RENAME TABLE $a TO $b")
        model = model - a + (b -> model(a))
      case Drop(Live(n)) =>
        sql(s"DROP TABLE $n")
        model -= n
      case Truncate(Live(n)) =>
        sql(s"TRUNCATE TABLE $n")
        model += n -> model(n).copy(rows = false)
      case Convert(Live(n)) =>
        sql(s"ALTER TABLE $n CONVERT PARTITION TO PARQUET LIST '2024'")
        val m = model(n)
        // conversion applies to WAL tables' existing partitions only
        if (m.wal && m.ts && m.rows) model += n -> m.copy(parquet = true)
      case _ =>
    }
    model
  }

  private def sql(q: String) = graft.sql.QuestSql.sql(spark, q)

  property("tables(), SHOW CREATE TABLE and table_partitions follow the model") =
    Prop.forAll(genOps) { ops =>
      val k = seq.incrementAndGet()
      val names = Seq("a", "b", "c").map(t => s"cp${k}_$t")
      val model = run(names, ops)
      val listed = sql("SELECT table_name, designatedTimestamp, partitionBy, " +
          "walEnabled, dedup FROM tables()").collect()
        .filter(r => names.contains(r.getString(0)))
        .map(r => r.getString(0) -> (Option(r.getString(1)), r.getString(2),
          r.getBoolean(3), r.getBoolean(4))).toMap
      val expected = model.map { case (n, m) =>
        n -> (if (m.ts) Some("ts") else None, m.partition.getOrElse("NONE"), m.wal, m.dedup)
      }
      val ddlOk = model.forall { case (n, m) =>
        val ddl = sql(s"SHOW CREATE TABLE $n").head().getString(0)
        ddl.contains("timestamp(ts)") == m.ts &&
          m.partition.forall(p => ddl.contains(s"PARTITION BY $p")) &&
          ddl.contains("DEDUP UPSERT KEYS") == m.dedup &&
          ddl.contains("BYPASS WAL") == (m.ts && !m.wal)
      }
      val partsOk = model.forall { case (n, m) =>
        val flags = sql(s"SELECT isParquet FROM table_partitions('$n')").collect()
          .map(_.getBoolean(0)).toSeq
        flags == (if (m.ts && m.rows) Seq(m.parquet) else Nil)
      }
      model.keys.foreach(n => sql(s"DROP TABLE $n"))
      (listed == expected) :| s"tables(): $listed != $expected after $ops" &&
        ddlOk :| s"SHOW CREATE TABLE after $ops" &&
        partsOk :| s"table_partitions after $ops"
    }
}
