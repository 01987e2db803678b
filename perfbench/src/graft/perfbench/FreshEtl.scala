package graft.perfbench

import java.nio.file.Paths
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, StringType, StructField, StructType}
import org.json4s._
import graft.analytics.ReferenceTasks
import graft.constraints.Constraints
import graft.constraints.Constraints._
import graft.ingest.{IngestPipeline, Normalizer}
import graft.ingest.IngestPipeline._
import graft.schema.AmazonFresh
import graft.sources.TableStore

/** fresh_etl: one op = one daily batch of the paper's pipeline over a
  * TableStore that grows batch by batch.
  *
  * ETL step: `IngestPipeline.run` per entity in FK order (parents are the
  * store's current tables), `Constraints.validate` against the store's
  * parents, `TableStore.upsert` for suppliers/products/customers and
  * `TableStore.insert(onConflictDoNothing)` for the fact tables, the
  * Task 4/8 CHECK repairs (`update` underage customers to 19, `delete`
  * out-of-range ratings), and `Normalizer.normalize` on products. Report
  * step: the `ReferenceTasks` reports over `TableStore.table`, with
  * seeded parameters. Copy-on-write DML republishes whole tables, so
  * write cost grows with the store. */
object FreshEtl {
  /** One staged entity; `spec` builds its pipeline spec from a resolver of
    * parent tables by name. */
  final case class Entity(name: String, schema: StructType, spec: (String => DataFrame) => EntitySpec,
      constraints: Seq[Constraint], upsert: Boolean)

  private def uuid(cs: String*) = cs.map(_ -> AsUuid)
  private val dec12 = AsTyped(DecimalType(12, 2))

  val entities: Seq[Entity] = Seq(
    Entity("suppliers", AmazonFresh.suppliers,
      _ => EntitySpec("suppliers", "supplierid", uuid("supplierid").toMap),
      Seq(PrimaryKey(Seq("supplierid")), NotNullCol("suppliername")), upsert = true),
    Entity("products", AmazonFresh.products,
      t => EntitySpec("products", "productid",
        (uuid("productid", "supplierid") ++ Seq("priceperunit" -> dec12,
          "stockquantity" -> AsTyped(IntegerType))).toMap,
        parents = Map("supplierid" -> ("supplierid", t("suppliers")))),
      Seq(PrimaryKey(Seq("productid")), NotNullCol("productname"),
        ForeignKey(Seq("supplierid"), "suppliers", Seq("supplierid"), SetNull)), upsert = true),
    Entity("customers", AmazonFresh.customers,
      _ => EntitySpec("customers", "customerid",
        (uuid("customerid") ++ Seq("age" -> AsTyped(IntegerType), "signupdate" -> AsDateMdy,
          "primemember" -> AsBool)).toMap),
      Seq(PrimaryKey(Seq("customerid")), NotNullCol("name")), upsert = true),
    Entity("orders", AmazonFresh.orders,
      t => EntitySpec("orders", "orderid",
        (uuid("orderid", "customerid") ++ Seq("orderdate" -> AsDateMdy, "shipdate" -> AsDateMdy,
          "totalamount" -> dec12)).toMap,
        parents = Map("customerid" -> ("customerid", t("customers")))),
      Seq(PrimaryKey(Seq("orderid")),
        ForeignKey(Seq("customerid"), "customers", Seq("customerid"), Cascade)), upsert = false),
    Entity("order_details", AmazonFresh.orderDetails,
      t => EntitySpec("order_details", "orderdetailid",
        (uuid("orderdetailid", "orderid", "productid") ++ Seq("quantity" -> AsTyped(IntegerType),
          "unitprice" -> dec12, "discount" -> AsTyped(DecimalType(5, 2)))).toMap,
        parents = Map("orderid" -> ("orderid", t("orders")),
          "productid" -> ("productid", t("products")))),
      Seq(PrimaryKey(Seq("orderdetailid")),
        ForeignKey(Seq("orderid"), "orders", Seq("orderid"), Cascade),
        ForeignKey(Seq("productid"), "products", Seq("productid"), SetNull)), upsert = false),
    Entity("reviews", AmazonFresh.reviews,
      t => EntitySpec("reviews", "reviewid",
        (uuid("reviewid", "productid", "customerid") ++ Seq("rating" -> AsTyped(IntegerType))).toMap,
        parents = Map("productid" -> ("productid", t("products")),
          "customerid" -> ("customerid", t("customers")))),
      Seq(PrimaryKey(Seq("reviewid")),
        ForeignKey(Seq("productid"), "products", Seq("productid"), Cascade),
        ForeignKey(Seq("customerid"), "customers", Seq("customerid"), SetNull)), upsert = false))

  /** The CHECK repairs: customers aged 18 or less are set to 19, reviews
    * rated outside 1..5 are deleted. */
  private val underage = col("age").isNotNull && col("age") <= 18
  private val badRating = col("rating").isNull || !col("rating").between(1, 5)

  /** CHECK constraints the repairs establish; verified after commit. */
  val repairedChecks: Map[String, Seq[Constraint]] = Map(
    "customers" -> Seq(Check("age>18", coalesce(col("age") > 18, lit(true)))),
    "reviews" -> Seq(Check("rating 1..5", col("rating").between(1, 5))))

  private def staging(b: Bench, dirs: Seq[String], e: Entity): DataFrame =
    b.spark.read
      .schema(StructType(AmazonFresh.staging(e.schema).fields :+ StructField("batch_no", StringType)))
      .option("header", "true").csv(dirs.map(d => s"$d/${e.name}.csv"): _*)

  /** The ETL step for one staged batch (a directory of entity CSVs).
    * Returns per entity (clean, quarantined) counts, taken outside the
    * clock. */
  def etl(b: Bench, st: TableStore, dir: String, rec: OpRecord): Map[String, (Long, Long)] = {
    val t = b.tracer
    var violations = 0L
    val counts = entities.map { e =>
      val res = b.timed(rec)(t.layer("ingest", s"IngestPipeline.run ${e.name}") {
        val res = IngestPipeline.run(staging(b, Seq(dir), e), e.spec(st.table))
        res.clean.persist().count()
        res
      })
      val (nClean, nQuarantined) = b.check(s"count ${e.name}")((res.clean.count(), res.quarantined.count()))
      b.timed(rec) {
        val rows = res.clean.distinct().drop("batch_no")
        val found = t.layer("constraints", s"Constraints.validate ${e.name}") {
          Constraints.validate(rows, e.constraints, st.table)
        }
        violations += found.map(_.count).sum
        found.foreach(v => rec.fail(s"${e.name}: ${v.count} rows violate ${v.constraint}"))
        t.layer("sources", s"TableStore write ${e.name}") {
          if (e.upsert) st.upsert(e.name, rows)
          else st.insert(e.name, rows, onConflictDoNothing = true)
        }
        res.clean.unpersist()
      }
      e.name -> (nClean, nQuarantined)
    }.toMap
    b.timed(rec) {
      t.layer("sources", "TableStore.update customers (age repair)") {
        st.update("customers", underage, Map("age" -> lit(19)))
      }
      t.layer("sources", "TableStore.delete reviews (invalid ratings)") {
        st.delete("reviews", badRating)
      }
      val unmatched = t.layer("ingest", "Normalizer.normalize products") {
        Normalizer.verify(Normalizer.normalize(st.table("products")))
      }
      if (unmatched != 0) rec.fail(s"normalize: $unmatched products do not resolve to a category")
    }
    rec.fields("violations") = JLong(violations)
    counts
  }

  /** Report step: the ReferenceTasks reports, at least one per task
    * (Tasks 3, 4, 9, 10, 11, 13, 14), each a timed read. */
  def reports(b: Bench, st: TableStore, rec: OpRecord, params: JValue): Unit = {
    implicit val f: Formats = b.formats
    val city = (params \ "city").extract[String]
    val minAvg = (params \ "min_avg").extract[Double]
    val minSpent = BigDecimal((params \ "min_spent").extract[Double])
    val k = (params \ "k").extract[Int]
    def c = st.table("customers"); def o = st.table("orders"); def p = st.table("products")
    def od = st.table("order_details"); def r = st.table("reviews"); def s = st.table("suppliers")
    val planned = Seq[(String, () => DataFrame)](
      "customersInCity" -> (() => ReferenceTasks.customersInCity(c, city)),
      "dedupeCustomersByName" -> (() => ReferenceTasks.dedupeCustomersByName(c)),
      "wellRatedProducts" -> (() => ReferenceTasks.wellRatedProducts(r, minAvg)),
      "highValueCustomers" -> (() => ReferenceTasks.highValueCustomers(c, o, minSpent)),
      "frequentCustomers" -> (() => ReferenceTasks.frequentCustomers(o, k)),
      "supplierShelfValue" -> (() => ReferenceTasks.supplierShelfValue(s, p)),
      "customersWithoutOrders" -> (() => ReferenceTasks.customersWithoutOrders(c, o)),
      "topCategoriesBySales" -> (() => {
        val n = Normalizer.normalize(p)
        ReferenceTasks.topCategoriesBySales(od, n.products, n.subcategories, n.categories, k)
      }))
    for ((name, df) <- planned) b.read(rec, "report", name, "analytics")(df())
  }

  def setup(b: Bench): TableStore = {
    implicit val f: Formats = b.formats
    val st = new TableStore(b.spark, b.runDir.resolve("store").toString)
    // store bootstrap: batch 0 bulk-loaded (its one-shot tables, created
    // in the store). It warms the ingest pipeline only: running batch 0
    // through the ETL and report steps as well would cost about 16 s more
    // per run, which a full sweep of the benchmark has no time for, so the
    // measured batch is the first in the JVM to run validation, DML,
    // normalization and the reports.
    val dir = ((b.plan \ "batches")(0) \ "dir").extract[String]
    b.timedNote("setup_bootstrap_s") {
      val one = oneShot(b, Seq(dir))
      try entities.foreach(e => st.create(e.name, one(e.name), e.constraints))
      finally one.values.foreach(_.unpersist())
    }
    st
  }

  def loop(b: Bench, st: TableStore): Unit = {
    implicit val f: Formats = b.formats
    val batches = (b.plan \ "batches").extract[Seq[JValue]]
    val storeDir = Paths.get(st.rootDir)
    var i = 1
    while (i < batches.size && (i == 1 || b.timeLeft)) {
      val bt = batches(i)
      val dir = (bt \ "dir").extract[String]
      b.op("batch", s"batch$i") { rec =>
        val before = b.dirBytes(storeDir)
        val counts = etl(b, st, dir, rec)
        rec.fields("etl_s") = JDouble(rec.seconds)
        rec.fields("store_bytes_before") = JLong(before)
        rec.fields("store_bytes_after") = JLong(b.dirBytes(storeDir))
        rec.fields("counts") = JObject(counts.toList.map { case (e, (c, q)) =>
          e -> JArray(List(JLong(c), JLong(q))) })
        reports(b, st, rec, bt \ "params")
      }
      i += 1
    }
    // batches in the store, the bootstrap batch included
    b.notes("batches") = JLong(i)
    b.notes("store_bytes_end") = JLong(b.dirBytes(storeDir))
  }

  /** Checks after the loop: the store equals a one-shot load of every
    * batch it ingested, and violates no constraint. Equality already
    * covers the PK and FK constraints (the one-shot tables keep one row
    * per key and their pipeline quarantines orphans against the one-shot
    * parents), so only NOT NULL and the repaired CHECKs are validated
    * against the store itself. */
  def check(b: Bench, st: TableStore): Unit = {
    implicit val f: Formats = b.formats
    val n = b.notes("batches").extract[Int]
    val dirs = (b.plan \ "batches").extract[Seq[JValue]].take(n).map(x => (x \ "dir").extract[String])
    val violations = b.timedNote("check_validate_s")(entities.map { e =>
      val cs = st.constraintsOf(e.name).collect { case c: NotNullCol => c } ++
        repairedChecks.getOrElse(e.name, Nil)
      e.name -> Constraints.validate(st.table(e.name), cs, st.table).map(_.count).sum
    })
    b.notes("post_commit_violations") = JObject(violations.toList.map { case (k, v) => k -> JLong(v) })
    val diffs = b.timedNote("check_oneshot_s") {
      val want = oneShot(b, dirs)
      // the tables are small: compare them as sorted row lists in the JVM
      try entities.map { e =>
        val a = st.table(e.name)
        def rows(df: DataFrame) = df.select(a.columns.map(col).toSeq: _*).collect().map(_.toString).sorted
        val (x, y) = (rows(a), rows(want(e.name)))
        e.name -> (x.diff(y).length + y.diff(x).length).toLong
      } finally want.values.foreach(_.unpersist())
    }
    b.notes("oneshot_diff_rows") = JObject(diffs.toList.map { case (k, v) => k -> JLong(v) })
  }

  /** What the store should hold after loading `dirs`: all the batches
    * through the pipeline at once, in FK order with each entity's result
    * as its children's parents, the latest version (highest batch_no) per
    * key, and the CHECK repairs as frame transforms — no TableStore DML. */
  def oneShot(b: Bench, dirs: Seq[String]): Map[String, DataFrame] =
    entities.foldLeft(Map.empty[String, DataFrame]) { (done, e) =>
      val spec = e.spec(done)
      val latest = IngestPipeline.run(staging(b, dirs, e), spec).clean.distinct()
        .withColumn("__rn", row_number().over(Window.partitionBy(spec.pk)
          .orderBy(col("batch_no").cast("int").desc)))
        .filter(col("__rn") === 1).drop("__rn", "batch_no")
      val repaired = e.name match {
        case "customers" => latest.withColumn("age", when(underage, lit(19)).otherwise(col("age")))
        case "reviews" => latest.filter(!badRating)
        case _ => latest
      }
      done + (e.name -> repaired.persist())
    }
}
