package perfbench

import graft.etl.{Derivations, DwTables, InitialLoad, Scd2, SnapshotStore, VersionedLoad}
import graft.gen.LibraryTables
import graft.queries.LibraryReports
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The library star as the benchmark drives it: generate → derive →
  * Kimball load → versioned store, reports Q1–Q5, and the monthly
  * incremental batches of `refresh_and_report`. Every call into the
  * program goes through a [[Trace]] span named after its layer. */
final class Library(spark: SparkSession, trace: Trace, scale: Double, seed: Long) {
  import Library._

  def generate(): LibraryTables =
    trace.forcing[LibraryTables]("gen.generate", t => Trace.forceAll(frames(t): _*)) {
      LibraryTables.generate(spark, scale, seed)
    }

  def derive(t: LibraryTables): LibraryTables =
    trace.forcing[LibraryTables]("etl.derive", d => Trace.forceAll(frames(d): _*)) {
      Derivations.applyAll(t, asOf = AsOf)
    }

  def initialLoad(t: LibraryTables): DwTables =
    trace.forcing[DwTables]("etl.initial_load", dw => Trace.forceAll(starFrames(dw): _*)) {
      InitialLoad(spark, t, AsOf)
    }

  /** Commits every star table as version 0 of its own store table. */
  def bootstrap(store: String, dw: DwTables): Unit =
    StarTables.zip(starFrames(dw)).foreach { case (name, df) =>
      trace.span("etl.versioned_bootstrap") {
        VersionedLoad.bootstrap(spark, s"$store/$name", df, asOfMicros = micros(AsOf),
          statsCol = Some(StatsCol(name)))
      }
    }

  /** The star as its current committed versions. */
  def readStar(store: String): DwTables = {
    val t = StarTables.map(name =>
      trace.span("etl.snapshot_read")(SnapshotStore.read(spark, s"$store/$name")).getOrElse(
        throw new IllegalStateException(s"$store/$name has no committed version")))
    DwTables(t(0), t(1), t(2), t(3), t(4), t(5), t(6))
  }

  /** Runs report `q` (1–5) and collects it, as one `queries.report` span. */
  def report(q: Int, dw: DwTables, oltp: LibraryTables, p: LibraryReports.Params): Array[Row] =
    trace.span("queries.report")(reportFrame(q, dw, oltp, p).collect())

  /** One incremental refresh committed through the store, as the
    * versioned library keys commit theirs: dimMembers goes through
    * SCD2 (`Scd2.applyTagged`) and a keyed `VersionedLoad.merge`, each
    * fact through `InitialLoad.fact*` over the batch and an insert-missing
    * `VersionedLoad.refresh` on its grain. Returns the batch's facts. */
  def refresh(store: String, batch: LibraryTables, asOf: String): Seq[DataFrame] = {
    val cur = readStar(store)
    val incoming = trace.forcing[DataFrame]("etl.initial_load", Trace.forceAll(_)) {
      InitialLoad.dimMembers(batch.members, asOf).drop("member_key")
    }
    val existingKeys = cur.dimMembers.select("member_id").distinct()
    val newRows = incoming.join(existingKeys, Seq("member_id"), "left_anti")
    val chgRows = incoming.join(existingKeys, Seq("member_id"), "left_semi")
    val tagged = trace.forcing[DataFrame]("etl.scd2", Trace.forceAll(_)) {
      Scd2.applyTagged(cur.dimMembers, chgRows, Seq("member_id"), TrackedMemberCols, asOf)
    }
    val action = col(Scd2.ActionCol)
    val maxKey = cur.dimMembers.agg(max(col("member_key"))).first().getLong(0)
    val dimCols = cur.dimMembers.columns.map(col).toIndexedSeq
    // new versions and brand-new members get one dense key block above
    // the current maximum, in (member_id, effective_date) order
    val keyed = tagged.filter(action === "open").drop(Scd2.ActionCol, "member_key")
      .unionByName(newRows)
      .withColumn("member_key", (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("member_id"), col("effective_date")))
        + maxKey).cast("long"))
      .select(dimCols: _*)
    val closed = tagged.filter(action === "close").select(dimCols: _*)
    trace.span("etl.versioned_refresh") {
      VersionedLoad.merge(spark, s"$store/dim_members", closed.unionByName(keyed),
        Seq("member_key"), asOfMicros = Some(micros(asOf)), statsCol = Some("member_key"))
    }
    val facts = batchFacts(store, batch, asOf)
    FactTables.zip(facts).foreach { case (name, df) =>
      trace.span("etl.versioned_refresh") {
        VersionedLoad.refresh(spark, s"$store/$name", df, FactGrain(name),
          asOfMicros = micros(asOf), statsCol = Some("date_key"))
      }
    }
    facts
  }

  /** The batch's facts (`InitialLoad.fact*`), keyed against the current dims. */
  def batchFacts(store: String, batch: LibraryTables, asOf: String): Seq[DataFrame] = {
    val cur = readStar(store)
    val dimM = cur.dimMembers
    Seq(
      trace.forcing[DataFrame]("etl.initial_load", Trace.forceAll(_)) {
        InitialLoad.factSales(batch.salesDetails, batch.salesOrders, cur.dimBook, dimM)
      },
      trace.forcing[DataFrame]("etl.initial_load", Trace.forceAll(_)) {
        InitialLoad.factBorrowing(batch.borrowedBooks, batch.bookCopies, cur.dimBook, dimM, asOf)
      },
      trace.forcing[DataFrame]("etl.initial_load", Trace.forceAll(_)) {
        InitialLoad.factPurchase(batch.purchaseDetails, batch.purchaseOrders, batch.bookTitles,
          cur.dimBook, cur.dimSuppliers)
      })
  }

  /** Row count and manifest files of each fact table's current version. */
  def factState(store: String): Map[String, (Long, Set[String])] =
    FactTables.map { n =>
      n -> (SnapshotStore.read(spark, s"$store/$n").get.count(),
        SnapshotStore.currentFiles(spark, s"$store/$n").toSet)
    }.toMap

  /** Bytes of the current files of every star table. */
  def storeBytes(store: String): Long =
    StarTables.flatMap(n => SnapshotStore.currentFiles(spark, s"$store/$n").map { f =>
      val p = new org.apache.hadoop.fs.Path(s"$store/$n", f)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
    }).sum
}

object Library {
  /** The load horizon of the generated window (2004-07-01 … 2024-06-30). */
  val AsOf = "2024-06-30"

  val StarTables: Seq[String] = Seq("dim_date", "dim_members", "dim_book", "dim_suppliers",
    "fact_sales", "fact_borrowing", "fact_purchase")
  val FactTables: Seq[String] = StarTables.filter(_.startsWith("fact_"))

  private val StatsCol = Map("dim_date" -> "date_key", "dim_members" -> "member_key",
    "dim_book" -> "book_key", "dim_suppliers" -> "supplier_key", "fact_sales" -> "date_key",
    "fact_borrowing" -> "date_key", "fact_purchase" -> "date_key")

  val FactGrain: Map[String, Seq[String]] = Map(
    "fact_sales" -> Seq("order_id", "line_no"),
    "fact_borrowing" -> Seq("date_key", "member_key", "book_key"),
    "fact_purchase" -> Seq("po_id", "line_no"))

  /** The SCD2-tracked member attributes (as the program's incremental load tracks them). */
  val TrackedMemberCols: Seq[String] = Seq("member_name", "member_gender", "member_age",
    "age_band", "member_state", "member_city", "expire_date")

  def micros(date: String): Long =
    java.time.LocalDate.parse(date).plusDays(1).atStartOfDay(java.time.ZoneOffset.UTC)
      .toInstant.toEpochMilli * 1000L

  def starFrames(dw: DwTables): Seq[DataFrame] =
    Seq(dw.dimDate, dw.dimMembers, dw.dimBook, dw.dimSuppliers,
      dw.factSales, dw.factBorrowing, dw.factPurchase)

  /** Caches the OLTP tables: the source system the incremental batches
    * are extracted from. The generated frames are lazy, and would
    * otherwise be regenerated per batch. */
  def extract(t: LibraryTables): LibraryTables = {
    val Seq(m, bt, bc, sup, dis, bb, so, sd, po, pd, fn, pay, st, sh, ss, sa) =
      frames(t).map(_.cache())
    LibraryTables(m, bt, bc, sup, dis, bb, so, sd, po, pd, fn, pay, st, sh, ss, sa)
  }

  def frames(t: LibraryTables): Seq[DataFrame] =
    Seq(t.members, t.bookTitles, t.bookCopies, t.suppliers, t.discounts, t.borrowedBooks,
      t.salesOrders, t.salesDetails, t.purchaseOrders, t.purchaseDetails, t.fines, t.payments,
      t.staff, t.shifts, t.shiftSchedules, t.staffAttendance)

  def reportFrame(q: Int, dw: DwTables, t: LibraryTables, p: LibraryReports.Params): DataFrame =
    q match {
      case 1 => LibraryReports.q1GenreSales(dw, p)
      case 2 => LibraryReports.q2PurchaseSpend(dw, p)
      case 3 => LibraryReports.q3GrossMargin(dw, p)
      case 4 => LibraryReports.q4FineRevenue(t.fines, t.payments, p)
      case 5 => LibraryReports.q5StaffUtilization(t.staff, t.shiftSchedules, t.staffAttendance)
    }

  private def dateIn(c: String, from: String, until: String) =
    col(c) >= lit(from).cast("date") && col(c) < lit(until).cast("date")

  /** The base the star is first loaded from: every member registered
    * before `cutoff`, and the sales, borrowings and purchases of the
    * `years` before it. */
  def base(t: LibraryTables, cutoff: String, years: Int): LibraryTables = {
    val from = java.time.LocalDate.parse(cutoff).minusYears(years.toLong).toString
    window(t, from, cutoff).copy(members = window(t, "1900-01-01", cutoff).members)
  }

  /** The rows dated in [from, until): the fact sources of a batch. */
  def window(t: LibraryTables, from: String, until: String): LibraryTables = {
    val so = t.salesOrders.filter(dateIn("sales_date", from, until))
    val po = t.purchaseOrders.filter(dateIn("purchase_date", from, until))
    t.copy(
      members = t.members.filter(dateIn("registration_date", from, until)),
      salesOrders = so,
      salesDetails = t.salesDetails.join(so.select("order_id"), Seq("order_id"), "left_semi"),
      borrowedBooks = t.borrowedBooks.filter(dateIn("borrow_date", from, until)),
      purchaseOrders = po,
      purchaseDetails = t.purchaseDetails.join(po.select("po_id"), Seq("po_id"), "left_semi"))
  }

  /** Batch `k` of the incremental schedule: the month [from, until), the
    * previous month re-sent as overlap, the members who registered in
    * the batch window, and a seeded 2 % sample of earlier members whose
    * age moves up a year (an SCD2-tracked change). */
  def batch(t: LibraryTables, prevFrom: String, from: String, until: String,
      seed: Long, k: Int): LibraryTables = {
    val w = window(t, prevFrom, until)
    val changed = t.members
      .filter(col("registration_date") < lit(prevFrom).cast("date"))
      .filter(pmod(xxhash64(lit(seed), lit(k), col("member_id")), lit(50L)) === 0)
      .withColumn("member_age", col("member_age") + 1)
    w.copy(members = w.members.unionByName(changed))
  }
}
