package perfbench

import java.nio.file.Path

import scala.collection.immutable.SortedMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

import graft.ingest.DataGen
import graft.tables.LakeTable

/** The beauty-shop customers table from `DataGen.Config(seed = ...)` under
  * change in a `LakeTable`. Each round of twelve operations holds an append,
  * a merge, a delete, a compact, a vacuum and seven reads: two each of full,
  * point and range, and one time travel, in an order the seed picks. A reference model (one immutable map per
  * committed version) gives every read its expected digest. */
final class ShopLake(seed: Long, tiny: Boolean) extends Workload {
  private val TableRows = if (tiny) 2000L else 10000L
  private val BatchRows = if (tiny) 20 else 100
  private val KeepVersions = 6
  private val Table = "customers"
  private val Cities = Seq("Stockholm", "Göteborg", "Malmö", "Uppsala", "Västerås", "Örebro",
    "Linköping", "Helsingborg", "Jönköping", "Norrköping", "Lund", "Umeå", "Gävle", "Borås",
    "Södertälje", "Eskilstuna", "Halmstad", "Växjö", "Karlstad", "Täby")

  private val roundKinds = IndexedSeq("append", "merge", "delete", "compact", "vacuum",
    "read", "read", "read_point", "read_point", "read_range", "read_range", "read_as_of")
  val classes: Set[String] = Set("commit", "maintain", "read")
  val roundSize: Int = roundKinds.size

  private var lake: LakeTable = _
  private var warehouse: Path = _
  private var schema: StructType = _
  private var versions = SortedMap.empty[Long, Map[Long, Row]]
  private var nextId = 0L
  private var rnd: scala.util.Random = _
  private var order: IndexedSeq[String] = IndexedSeq.empty
  private var known = Map.empty[String, Long]
  private var lakeBytes = 0L
  private var changeBatches = Vector.empty[Seq[Row]]

  private var inserted, updated, deleted = 0L

  private def latest: Map[Long, Row] = versions.last._2
  private def share(n: Long): Double = n.toDouble / math.max(1L, inserted + updated + deleted)

  private def commitVersion(v: Long, rows: Map[Long, Row]): Unit = versions += v -> rows

  /** Record the bytes this commit added under the table (data and log). */
  private def noteWrites(): Unit = {
    val now = FileTree.filesUnder(warehouse)
    lakeBytes += now.iterator.filter { case (p, n) => !known.get(p).contains(n) }.map(_._2).sum
    known = now
  }

  def setup(ctx: Ctx): Unit = {
    rnd = new scala.util.Random(seed)
    warehouse = ctx.dir.resolve("warehouse")
    lake = new LakeTable(ctx.spark, warehouse.toString)
    val df = ctx.tracer.span("ingest", "DataGen.customers") {
      DataGen.customers(ctx.spark, DataGen.Config(nCustomers = TableRows, seed = seed)).localCheckpoint()
    }
    schema = df.schema
    val c = ctx.tracer.span("tables", "LakeTable.write") { lake.write(df, Table, "overwrite") }
    val rows = df.collect().map(r => r.getLong(0) -> r).toMap
    versions = SortedMap(c.version -> rows)
    nextId = TableRows + 1
    known = Map.empty; noteWrites(); lakeBytes = 0L; changeBatches = Vector.empty
  }

  /** Every call kind once, on a scratch copy of the table's first rows. */
  def warmUp(ctx: Ctx): Unit = {
    val w = "warm_up"
    val rows = latest.values.take(BatchRows).toSeq
    lake.write(frame(ctx, rows), w, "overwrite")
    lake.write(frame(ctx, rows.map(r => person(r.getLong(0) + 10 * TableRows))), w, "append")
    lake.merge(w, frame(ctx, rows.take(BatchRows / 2).map(moved)), Seq("customer_id"))
    lake.deleteWhere(w, "age >= 60")
    lake.compact(w)
    lake.vacuum(w, KeepVersions, retentionMs = 0L)
    Seq(lake.read(w), lake.read(w, Some(lake.latestVersion(w).get - 1)), lake.readPoint(w, "customer_id", 1L),
      lake.readRange(w, "age", 30, 31)).foreach(Digest.of)
  }

  private def person(id: Long): Row = {
    val f = Seq("Anna", "Erik", "Maria", "Lars", "Karin", "Johan", "Sara", "Nils")
    val l = Seq("Andersson", "Johansson", "Karlsson", "Nilsson", "Eriksson", "Larsson")
    Row(id, f(rnd.nextInt(f.size)), l(rnd.nextInt(l.size)), s"user$id@example.com",
      java.sql.Date.valueOf(java.time.LocalDate.of(2023, 1, 1).plusDays(rnd.nextInt(1095).toLong)),
      Cities(rnd.nextInt(Cities.size)), 18 + rnd.nextInt(60))
  }

  private def moved(r: Row): Row =
    Row(r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.get(4),
      Cities(rnd.nextInt(Cities.size)), math.min(90, r.getInt(6) + 1 + rnd.nextInt(3)))

  private def frame(ctx: Ctx, rows: Seq[Row]): DataFrame = ctx.spark.createDataFrame(rows.asJava, schema)

  private def digestCheck(what: String, want: => Digest)(got: Any): Unit = Check.equal(what, got, want)

  def op(ctx: Ctx, i: Int): Op = {
    if (i % roundSize == 0) order = rnd.shuffle(roundKinds)
    val T = ctx.tracer
    order(i % roundSize) match {
      case "append" =>
        val rows = (0 until BatchRows).map(k => person(nextId + k))
        nextId += BatchRows
        changeBatches :+= rows
        val df = frame(ctx, rows)
        Op("append", "commit", () => T.span("tables", "LakeTable.write") { lake.write(df, Table, "append") },
          r => { val c = r.asInstanceOf[LakeTable#Commit]
            commitVersion(c.version, latest ++ rows.map(x => x.getLong(0) -> x)); noteWrites()
            inserted += rows.size
            Check.equal("append row count", c.rowCount, latest.size.toLong) })
      case "merge" =>
        val cur = latest
        val keys = cur.keysIterator.toIndexedSeq
        val updates = Iterator.continually(keys(rnd.nextInt(keys.size))).distinct
          .take(BatchRows * 4 / 5).map(k => moved(cur(k))).toSeq
        val inserts = (0 until BatchRows / 5).map(k => person(nextId + k))
        nextId += BatchRows / 5
        val rows = updates ++ inserts
        changeBatches :+= rows
        val df = frame(ctx, rows)
        Op("merge", "commit", () => T.span("tables", "LakeTable.merge") { lake.merge(Table, df, Seq("customer_id")) },
          r => { val c = r.asInstanceOf[LakeTable#Commit]
            commitVersion(c.version, cur ++ rows.map(x => x.getLong(0) -> x)); noteWrites()
            inserted += inserts.size; updated += updates.size
            Check.equal("merge row count", c.rowCount, latest.size.toLong) })
      case "delete" =>
        val city = Cities(rnd.nextInt(Cities.size)); val age = 45 + rnd.nextInt(15)
        val cur = latest
        Op("delete", "commit",
          () => T.span("tables", "LakeTable.deleteWhere") {
            lake.deleteWhere(Table, s"city = '$city' AND age >= $age") },
          r => { val c = r.asInstanceOf[LakeTable#Commit]
            commitVersion(c.version, cur.filterNot { case (_, x) => x.getString(5) == city && x.getInt(6) >= age })
            noteWrites(); deleted += cur.size - latest.size
            Check.equal("delete row count", c.rowCount, latest.size.toLong) })
      case "compact" =>
        val cur = latest
        Op("compact", "commit", () => T.span("tables", "LakeTable.compact") { lake.compact(Table) },
          r => { val c = r.asInstanceOf[LakeTable#Commit]
            commitVersion(c.version, cur); noteWrites()
            Check.equal("compact row count", c.rowCount, cur.size.toLong) })
      case "vacuum" =>
        Op("vacuum", "maintain",
          () => T.span("tables", "LakeTable.vacuum") { lake.vacuum(Table, KeepVersions, retentionMs = 0L) },
          _ => {
            versions = versions.takeRight(KeepVersions)
            noteWrites()
            Check.equal("versions kept", lake.history(Table).map(_.version), versions.keys.toSeq)
          })
      case "read" =>
        val want = latest
        Op("read", "read", () => T.span("tables", "LakeTable.read") { Digest.of(lake.read(Table)) },
          digestCheck("read", Digest.ofRows(schema, want.values)))
      case "read_point" =>
        val want = latest
        val id = if (rnd.nextInt(4) == 0) nextId + 1000 else want.keysIterator.drop(rnd.nextInt(want.size)).next()
        Op("read_point", "read",
          () => T.span("tables", "LakeTable.readPoint") { Digest.of(lake.readPoint(Table, "customer_id", id)) },
          digestCheck(s"readPoint($id)", Digest.ofRows(schema, want.get(id).toSeq)))
      case "read_range" =>
        val want = latest
        val lo = 20 + rnd.nextInt(50)
        Op("read_range", "read",
          () => T.span("tables", "LakeTable.readRange") { Digest.of(lake.readRange(Table, "age", lo, lo + 2)) },
          digestCheck(s"readRange($lo)", Digest.ofRows(schema,
            want.values.filter(r => r.getInt(6) >= lo && r.getInt(6) <= lo + 2))))
      case "read_as_of" =>
        val vs = versions.keys.toIndexedSeq
        val v = vs(rnd.nextInt(vs.size))
        val want = versions(v)
        Op("read_as_of", "read",
          () => T.span("tables", "LakeTable.read") { Digest.of(lake.read(Table, Some(v))) },
          digestCheck(s"read(asOf=$v)", Digest.ofRows(schema, want.values)))
    }
  }

  def properties: Seq[(String, Any)] = Seq(
    "table_rows_initial" -> TableRows, "batch_rows" -> BatchRows,
    "batch_to_table" -> BatchRows.toDouble / TableRows,
    "rows_inserted" -> inserted, "rows_updated" -> updated, "rows_deleted" -> deleted,
    "insert_share" -> share(inserted), "update_share" -> share(updated), "delete_share" -> share(deleted),
    "op_share_append" -> 1.0 / 12, "op_share_merge" -> 1.0 / 12, "op_share_delete" -> 1.0 / 12,
    "op_share_maintain" -> 2.0 / 12, "op_share_read" -> 7.0 / 12,
    "merge_update_fraction" -> 0.8, "keep_versions" -> KeepVersions)

  def finish(ctx: Ctx, samples: Seq[Sample]): Map[String, Double] = {
    if (!ctx.tracer.enabled) return Map.empty
    // The same change batches and the live table, each written once as
    // parquet with the lake's codec: the bases of write_amp and space_amp.
    val scratch = ctx.dir.resolve("once")
    val batchBytes = changeBatches.zipWithIndex.map { case (rows, k) =>
      val p = scratch.resolve(s"batch$k")
      frame(ctx, rows).write.option("compression", "snappy").parquet(p.toString)
      FileTree.bytesUnder(p)
    }.sum
    val live = scratch.resolve("live")
    frame(ctx, latest.values.toSeq).coalesce(1).write.option("compression", "snappy").parquet(live.toString)
    val liveBytes = FileTree.bytesUnder(live).toDouble
    val disk = FileTree.bytesUnder(warehouse).toDouble
    ctx.tracer.count("tables.disk_bytes", disk)
    ctx.tracer.count("tables.live_bytes", liveBytes)
    Map("write_amp" -> (if (batchBytes > 0) lakeBytes.toDouble / batchBytes else 0.0),
      "space_amp" -> (if (liveBytes > 0) disk / liveBytes else 0.0))
  }
}
