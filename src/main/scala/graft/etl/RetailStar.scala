package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** The reference's two signature dimensional queries (README.md
  * §5.1/§5.3) run VERBATIM over the real star schema, end to end:
  * staging → RetailClean.clean → Warehouse dims + Fact_Sales_
  * Transaction → query — all under the DuckDB oracle gate.
  *
  * The driver testdata has no retail staging table, so staging is
  * derived deterministically from lineitem⋈orders⋈part (every
  * synthesized attribute is pure integer arithmetic both engines
  * reproduce bit-identically). The derivation introduces no nulls and
  * no key collisions, so the cleaning pipeline's drop stages are
  * no-ops here by construction — what the gate checks is the star
  * build itself: key synthesis, surrogate-key lookups, the generated
  * DimTimeOfDay (86,400 rows, broadcast), and the DimShipping tier
  * hierarchy.
  *
  * Scale: staging⋈part is an equi-join on partkey (shuffle or
  * broadcast per AQE's sizing); every dim lookup in factSales
  * broadcasts; the final rollups aggregate the fact once. Nothing
  * here materializes outside the plan.
  */
object RetailStar {

  /** Deterministic second-of-day per line — the reference's staging
    * carries a wall-clock Time column; testdata has none, so derive
    * one that both engines compute identically. */
  private def secondOfDay = pmod(col("l_orderkey") * 7 + col("l_linenumber"), lit(86400L))

  /** Retail-staging-shaped frame from the TPC-H-ish tables. Column
    * names/types match RetailClean.stagingSchema (subset — the
    * pipeline stages are column-presence-defensive, mirroring
    * clean_data.py's `if col in df.columns`). */
  def stagingFromTpch(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val p = Tables.part(spark, dir)
    val sod = secondOfDay
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .select(
        col("l_orderkey").as("Transaction_ID"),
        col("o_custkey").as("Customer_ID"),
        date_format(col("o_orderdate"), "M/d/yyyy").as("Date"),
        format_string("%d:%d:%d",
          (sod / 3600).cast(IntegerType),
          ((sod % 3600) / 60).cast(IntegerType),
          (sod % 60).cast(IntegerType)).as("Time"),
        col("l_quantity").as("Total_Purchases"),
        (col("l_extendedprice") / col("l_quantity")).as("Amount"),
        col("l_extendedprice").as("Total_Amount"),
        col("p_name").as("products"),
        col("p_type").as("Product_Category"),
        col("p_brand").as("Product_Brand"),
        lit("General").as("Product_Type"),
        // payment/shipping synthesized from stable keys so the dims
        // get real cardinality (and DimShipping real tier variety)
        element_at(array(lit("Card"), lit("Cash"), lit("Online")),
          (pmod(col("o_custkey"), lit(3)) + 1).cast(IntegerType)).as("Payment_Method"),
        element_at(array(lit("Express"), lit("Standard"), lit("Same-Day"), lit("Courier")),
          (pmod(col("l_suppkey"), lit(4)) + 1).cast(IntegerType)).as("Shipping_Method"),
        when(col("l_returnflag") === "R", "Returned").otherwise("Delivered").as("Order_Status"),
        (pmod(col("l_orderkey"), lit(5)) + 1).cast(DoubleType).as("Ratings"),
        lit("Porto").as("City"),
        lit("Norte").as("State"),
        pmod(col("o_custkey"), lit(100)).as("Zipcode"),
        lit("Portugal").as("Country"))
  }

  /** The star pieces a rollup re-joins after the fact build. */
  final case class Star(fact: DataFrame, product: DataFrame, shipping: DataFrame)

  /** Full star build: staging → clean → Fact_Sales_Transaction via
    * INLINE surrogate keys (Warehouse.factSalesInline — hash keys are
    * pure functions of the natural keys, so the fact build is one
    * narrow projection, no dim joins, no cache), plus lazily-derived
    * dims for the rollups that re-join one. Keeping everything lazy
    * lets Catalyst prune the 31-column cleaning pipeline down to the
    * columns each query actually touches — an earlier cached form
    * materialized all columns and cost 3× as much per query. A dim a
    * query does join re-runs the (pruned) cleaning pipeline once more;
    * that second pass reads 4-6 columns and is far cheaper than the
    * full-width cache write was. */
  def buildStar(spark: SparkSession, dir: String): Star = {
    val cleaned = RetailClean.clean(stagingFromTpch(spark, dir))
    Star(Warehouse.factSalesInline(cleaned),
      Warehouse.dimProduct(cleaned), Warehouse.dimShipping(cleaned))
  }

  def buildFact(spark: SparkSession, dir: String): DataFrame =
    buildStar(spark, dir).fact

  /** The full star build with the cleaning pipeline materialized ONCE
    * and shared across the three outputs — the shape [[servedStar]]'s
    * artifact builder already runs (its lazy localCheckpoint), exposed
    * for callers that materialize ALL THREE tables in one invocation
    * (the bench's star_build row). [[buildStar]]'s per-output lazy
    * form stays the right call when a consumer touches one pruned
    * output (each re-derivation reads 4-6 columns); materializing all
    * three through it pays the staging join + collision-dedup
    * aggregate once per output AND once more per output's dedup
    * branch — six derivations of the same join for one build. Outputs
    * are identical frame-for-frame (same builders, same input). */
  def materializeStar(spark: SparkSession, dir: String): Star = {
    val cleaned = RetailClean.clean(stagingFromTpch(spark, dir)).localCheckpoint()
    val attrs = dimAttrs(cleaned)
    Star(Warehouse.factSalesInline(cleaned),
      Warehouse.dimProduct(attrs), Warehouse.dimShipping(attrs))
  }

  /** ONE dedup pass over the checkpointed cleaned frame feeding BOTH
    * dims (guide §1.2): dimProduct and dimShipping each ran their
    * own corpus-wide distinct over the checkpoint — two full scans +
    * two exchanges for attribute sets that co-reside on every row. The
    * fused pass dedups the five attribute columns once (cardinality ≤
    * |products| × |shipping methods| — catalog-sized, checkpointed so
    * the two dim builders read it instead of re-aggregating), and each
    * dim's own distinct then runs over that small frame. Dim content
    * is unchanged: distinct∘project∘distinct ≡ distinct∘project, and
    * the surrogate hashes see identical column values
    * (OptimizationR17Spec pins materializeStar ≡ buildStar). */
  private def dimAttrs(cleaned: DataFrame): DataFrame =
    cleaned.select(col("product_name"), col("Product_Category"),
        col("Product_Brand"), col("Product_Type"), col("Shipping_Method"))
      .distinct().localCheckpoint()

  /** The star schema PERSISTED as a corpus-fingerprint artifact:
    * the defining property of a warehouse is
    * that the ETL is paid ONCE and queries read persisted tables
    * (reference README.md:171-178) — the pairs/ivfq artifact
    * discipline applied to the star tier. Fact + both re-joined dims
    * live under a `graft_star_v1` root keyed by the corpus
    * fingerprint (ArtifactRoots staleness defense), each behind the
    * shared _SUCCESS+schema-sidecar ensure; the first consumer after
    * a corpus change pays one cleaning pass (shared across all three
    * tables via the localCheckpoint), every later serve is a pruned
    * parquet scan. `star_build` stays the bench's honest ETL row: it
    * times the same staging→clean→dims→fact derivation these builders
    * run (the artifact itself is written by the first serve after a
    * corpus change, not by the bench row).
    *
    * Scale: at 100 TB the root rides SPARK_GRAFT_ARTIFACT_ROOT onto
    * the warehouse filesystem; the fact table is the corpus-sized
    * write (one narrow projection — inline hash keys, no dim joins),
    * the dims are catalog-sized. Serves then prune columns at the
    * scan instead of re-deriving the 31-column cleaning pipeline per
    * query. */
  def servedStar(spark: SparkSession, dir: String): Star = {
    val root = graft.store.served("graft_star_v1", dir)
    // lazily shared single cleaning pass: evaluated only if some
    // table is missing, materialized once across the three builders
    // (and ONE shared dim-attribute dedup feeding both dims —
    // materializeStar's rationale)
    lazy val cleaned =
      RetailClean.clean(stagingFromTpch(spark, dir)).localCheckpoint()
    lazy val attrs = dimAttrs(cleaned)
    Star(
      graft.store.table(spark, root, "fact")(Warehouse.factSalesInline(cleaned)),
      graft.store.table(spark, root, "dim_product")(Warehouse.dimProduct(attrs)),
      graft.store.table(spark, root, "dim_shipping")(Warehouse.dimShipping(attrs)))
  }

  /** The STANDING month-partitioned warehouse every star maintenance
    * verb starts from (q56/q57/q58/st25's shared scenario) — a
    * [[graft.store.tree]] staged ONCE per corpus fingerprint and CLONED
    * to each verb's scratch root: the standing state is a pure function
    * of the corpus, so re-running the 80-partition writeFactPartitioned
    * per invocation would re-derive the identical tree every time. The
    * verbs mutate the CLONE; the substrate itself is never touched. */
  private[graft] def warehouseSubstrate(spark: SparkSession, dir: String): String = {
    val root = graft.store.tree(spark, "graft_starwh_v1", dir) { r =>
      Warehouse.writeFactPartitioned(servedStar(spark, dir).fact, s"$r/fact_by_month")
    }
    s"$root/fact_by_month"
  }

  /** Clone the standing warehouse into `target` ([[graft.store.cloneTree]]). */
  private[graft] def cloneWarehouse(spark: SparkSession, dir: String,
                                    target: String): Unit =
    graft.store.cloneTree(spark, warehouseSubstrate(spark, dir), target)

  /** q27 — reference query 5.1 (README.md:208-214): total sales by
    * hour of day through DimTimeOfDay, joined on the seconds-first
    * time_key. The generated dim broadcasts (86,400 rows at any fact
    * scale). Serves from the persisted star artifact. */
  def q27SalesByHour(spark: SparkSession, dir: String): DataFrame = {
    val fact = servedStar(spark, dir).fact
    val t = Warehouse.dimTimeOfDay(spark)
    fact.join(broadcast(t), Seq("time_key"))
      .groupBy(col("hour_24"), col("time_bucket_period"))
      .agg(round(sum(col("line_total_amount")), 2).as("total_sales"))
      .orderBy(col("hour_24"))
  }

  /** q28 — reference query 5.3 (README.md:229-237): sales rolled up
    * the DimShipping speed-tier hierarchy. Serves from the persisted
    * star artifact. */
  def q28SalesByShippingTier(spark: SparkSession, dir: String): DataFrame = {
    val star = servedStar(spark, dir)
    star.fact.join(broadcast(star.shipping), Seq("shipping_key"))
      .groupBy(col("speed_tier").as("shipping_speed_tier"))
      .agg(round(sum(col("line_total_amount")), 2).as("total_sales"))
      .orderBy(desc("total_sales"), col("shipping_speed_tier"))
  }

  /** q29 — reference query 5.2 (README.md:218-226): top-10 products
    * by revenue through DimProduct on the surrogate product_key.
    * The reference's ORDER BY revenue DESC LIMIT 10 is made
    * deterministic with the (name, brand) tiebreak both engines
    * apply identically. Serves from the persisted star artifact. */
  def q29TopProducts(spark: SparkSession, dir: String): DataFrame = {
    val star = servedStar(spark, dir)
    // Bounded-catalog assumption (same as q2): DimProduct is a retail
    // product dim — broadcastable at any realistic catalog size; drop
    // the hint (AQE shuffle join) if it ever outgrows the threshold.
    star.fact.join(broadcast(star.product), Seq("product_key"))
      .groupBy(col("product_name"), col("product_brand"))
      .agg(round(sum(col("line_total_amount")), 2).as("revenue"))
      .orderBy(desc("revenue"), col("product_name"), col("product_brand"))
      .limit(10)
  }

  /** Q55 — the incremental-snapshot maintenance path AS a gate entry
    * (the processing mode the reference endorses over full rebuilds,
    * README.md:199-201): the LAST month in the data is "the month
    * that just arrived" — the prior snapshot is built over everything
    * before it, Warehouse.factMonthlySnapshotIncrement appends the
    * new month, and the gate reports the appended rows. The oracle is
    * the FULL-REBUILD slice: the complete (customer, month) running-
    * sum snapshot filtered to the last month — so the hash gate
    * proves increment ≡ rebuild on the appended month (WarehouseSpec
    * proves the whole-history fold; this puts the path under the
    * driver's gate). Surrogate customer_key is xxhash64 (not DuckDB-
    * reproducible), so the report joins back to the natural key — a
    * broadcast-sized dimension join at any fact scale.
    *
    * Scale: the new month's staging aggregates once; prior lifetimes
    * are one customer-keyed max_by over the (month-partitioned)
    * snapshot — at 100 TB that max_by is maintained as a compact
    * current-state table instead of re-scanning history (see the
    * increment's doc). The boundary month is ONE value — bounded
    * driver state. */
  def q55SnapshotIncrement(spark: SparkSession, dir: String): DataFrame = {
    // four consumers (boundary-month probe, prior snapshot, increment,
    // key-map) — materialize the cleaning pipeline ONCE instead of
    // re-running the staging joins per consumer (bench: 9.8s → 7.3s);
    // the checkpoint block is freed by the ContextCleaner once the
    // frame is unreferenced (same lifecycle as the CC label loops).
    // checkpoint only the 8 columns the four consumers read
    // (guide §2.3 "project before the exchange" applied at the
    // materialization boundary — the full 31-column frame checkpointed
    // ~4× the bytes this query ever touches; measured 4.8s → 3.3s).
    // NOTE (examined, reverted): pre-partitioning this checkpoint
    // on xxhash64(Customer_ID) to share the consumers' exchanges does
    // NOT work on Spark 4.1 — the LogicalRDD's outputPartitioning is
    // UnknownPartitioning under AQE, and with AQE suspended it only
    // survives for the FIRST occurrence of the checkpoint in a plan
    // (DeduplicateRelations re-aliases every other occurrence, so its
    // partitioning attributes no longer match its output and the
    // exchanges stay). Measured: serve plan GAINED 2 Exchanges.
    val cleaned = RetailClean.clean(stagingFromTpch(spark, dir))
      .select(col("Date"), col("Customer_ID"), col("transaction_id"),
        col("line_total_amount"), col("Country"), col("State"),
        col("City"), col("Zipcode"))
      .localCheckpoint()
    val monthOf = date_trunc("month", to_date(col("Date"), "M/d/yyyy"))
    // append the most recent COMPLETE month: the max month is still
    // receiving data (the corpus ends mid-month — a 2-customer stub
    // at sf0.01), which is exactly when a production load appends the
    // month before it. 2 months of driver state.
    val lastM = cleaned.select(monthOf.as("m")).distinct()
      .orderBy(desc("m")).limit(2).collect().last.getTimestamp(0)
    val prev = Warehouse.factMonthlySnapshot(cleaned.filter(monthOf < lit(lastM)))
    val inc = Warehouse.factMonthlySnapshotIncrement(
      prev, cleaned.filter(monthOf === lit(lastM)))
    val ids = cleaned
      .select(xxhash64(col("Customer_ID")).as("customer_key"),
        col("Customer_ID").as("customer_id"))
      .distinct()
    inc.join(broadcast(ids), Seq("customer_key"))
      .select(col("customer_id"), col("month_start"),
        round(col("month_total_spent"), 2).as("month_total_spent"),
        col("month_total_orders"),
        round(col("customer_lifetime_spent"), 2).as("customer_lifetime_spent"))
      .orderBy(col("customer_id"))
  }

  /** Q56 — the star fact's PARTITION-REFRESH maintenance verb (the
    * warehouse-load posture the star artifact implies, run for real
    * and hash-checked): the fact is stored MONTH-PARTITIONED
    * (Warehouse.writeFactPartitioned — SURVEY §4's layout), the
    * arriving month lands via Spark's dynamic partition overwrite (the
    * st11 mechanism at the star tier: only the touched partition is
    * rewritten, untouched months are neither read nor written), and
    * the load is RE-DELIVERED — the second write replaces the same
    * partition instead of appending, so the census the gate hashes
    * carries the idempotence proof every round (a blind append would
    * double the arriving month's counts). Serve = the per-month
    * census of the post-refresh fact, which must equal the
    * full-rebuild census (refresh ≡ rebuild, e10's law at the star
    * tier).
    *
    * Scale: a monthly load rewrites ONE partition regardless of
    * history depth; re-deliveries (a retried orchestrator job, a
    * replayed upstream batch) are absorbed by partition replacement —
    * the exact failure mode append-only fact loads corrupt on. The
    * read back is schema-pinned so the zero-padded "MMyyyy" partition
    * values stay strings (inference would parse "092023" as an
    * integer and drop the pad). */
  def q56StarRefresh(spark: SparkSession, dir: String): DataFrame = {
    val target = s"${graft.store.scratch(spark, "graft_starref_v1", dir)}/fact_by_month"
    // the maintenance verb operates on the WAREHOUSE (the persisted
    // star artifact), not on a fresh ETL derivation — star_build
    // benchmarks the ETL; this row benchmarks the load mechanics
    val fact = servedStar(spark, dir).fact
    val lastKey = arrivingMonthKey(spark, dir)
    // the pre-load standing state (every month but the arriving one) =
    // the cloned substrate minus the arriving month's partition dir —
    // partition dirs hold exactly their month's rows, so the delete is
    // the filter (no fresh 80-partition write)
    cloneWarehouse(spark, dir, target)
    graft.store.clear(spark, s"$target/month_key=$lastKey")
    val arriving = fact.filter(col("month_key") === lastKey)
    Warehouse.withDynamicOverwrite(spark) {
      arriving.write.mode("overwrite").partitionBy("month_key").parquet(target)
      // RE-DELIVERY: the same load lands again — partition replaced,
      // never appended (the census hash would double otherwise)
      arriving.write.mode("overwrite").partitionBy("month_key").parquet(target)
    }
    Warehouse.monthCensus(Tables.read(spark, fact.schema, target))
  }

  /** The arriving month — the corpus's max month as a "MMyyyy" key
    * (the partition every production load rewrites); ONE value of
    * driver state, from the same order dates the staging synthesis
    * carries. Shared by q56 and st24. */
  private[graft] def arrivingMonthKey(spark: SparkSession, dir: String): String =
    arrivingMonthKeys(spark, dir, 1).head

  /** The N most recent months as "MMyyyy" keys (newest first) — the
    * window late-arriving data lands in. The MMyyyy key itself is not
    * order-preserving, so the ordering happens on the real month;
    * N values of driver state. */
  private[graft] def arrivingMonthKeys(spark: SparkSession, dir: String,
                                       n: Int): Seq[String] =
    Tables.orders(spark, dir)
      .select(date_trunc("month", col("o_orderdate")).as("m")).distinct()
      .orderBy(desc("m")).limit(n)
      .select(date_format(col("m"), "MMyyyy"))
      .collect().toIndexedSeq.map(_.getString(0))

  /** The deterministic erasure slice (natural customer ids ending in
    * 007): 1 customer at sf0.001, 2 at sf0.01, 15 at sf0.1 — live but
    * sparse at every SF, touching 10/15/65 of 80 months, so the
    * partition-scoped repack has real untouched partitions to leave
    * alone. */
  val Q57ErasureMod = 1000L
  val Q57ErasureDigit = 7L

  /** Q57 — star-fact RETENTION DELETE (the warehouse tier's
    * right-to-erasure verb — e11/st22's retention discipline on the
    * month-partitioned fact): erase a customer set from the standing
    * fact by rewriting ONLY the partitions their rows live in. The
    * victim months come from a broadcast semi-join of the victim keys
    * (natural ids → the same inline xxhash64 surrogate the fact
    * carries — the mapping never leaves the engine, so the oracle
    * stays on natural keys); each touched month is repacked without
    * the victims' rows via dynamic partition overwrite; untouched
    * months are neither read nor written. A month whose EVERY row is
    * a victim's would vanish from the repack output — and dynamic
    * overwrite only replaces partitions it writes, so the stale
    * partition would survive as a ghost; the verb deletes emptied
    * partitions explicitly (the dynamic-overwrite deletion gap,
    * handled — not live on this corpus, where every month keeps other
    * customers, but the discipline is the point). Serve = the
    * post-erasure per-month census ≡ rebuild-without-victims
    * (delete ∘ repack ≡ rebuild, e11's law at the star tier).
    *
    * Scale: erasure cost ∝ the months the subject actually touched,
    * never history depth; a re-issued erasure request is idempotent
    * (repack of already-clean partitions — Round17Spec pins untouched
    * months byte-identical across the re-run). */
  def q57FactRetention(spark: SparkSession, dir: String): DataFrame = {
    val target = s"${graft.store.scratch(spark, "graft_starret_v1", dir)}/fact_by_month"
    // operate on the persisted warehouse fact (q56's discipline); the
    // standing warehouse is the cloned once-per-corpus substrate
    val fact = servedStar(spark, dir).fact
    cloneWarehouse(spark, dir, target)
    // victim surrogate keys (bounded: the erasure request's subjects);
    // Customer_ID IS o_custkey in the staging synthesis, so the
    // natural→surrogate mapping derives from orders directly
    val victims = Tables.orders(spark, dir)
      .filter(pmod(col("o_custkey"), lit(Q57ErasureMod)) === Q57ErasureDigit)
      .select(xxhash64(col("o_custkey")).as("customer_key")).distinct()
    // partition-scoped repack + the emptied-month cleanup live in
    // [[Warehouse.eraseFromPartitionedFact]] (the dynamic-overwrite
    // deletion gap is handled there, and pinned on a synthetic
    // all-victim month in Round17Spec — this corpus never empties one)
    Warehouse.eraseFromPartitionedFact(spark, target, fact.schema, victims)
    Warehouse.monthCensus(Tables.read(spark, fact.schema, target))
  }

  /** The deterministic late-arriving slice q58 measures: ~10% of the
    * lines (transaction_id ending in 7) in the three most recent
    * months — dense enough that every spec SF fires at least one
    * month, recent-skewed the way late upstream batches actually
    * land. */
  val Q58LateMod = 10L
  val Q58LateDigit = 7L
  val Q58LateMonths = 3

  /** Stage the deterministically-STALE standing warehouse q58
    * measures — the served fact minus the late slice, month-
    * partitioned at `target` — and return the served fact. ONE
    * definition shared by q58 and e22's forced star apply (two
    * verbatim copies of the withholding rule would let the forced-
    * apply law drift from the scenario q58 actually gates). */
  private[graft] def stageStaleWarehouse(spark: SparkSession, dir: String,
                                         target: String): DataFrame = {
    val fact = servedStar(spark, dir).fact
    val lateKeys = arrivingMonthKeys(spark, dir, Q58LateMonths)
    // clone the standing substrate and repack ONLY the late-window
    // months without their late slice — the late slice lives
    // exclusively in lateKeys months, so every other month's partition
    // is already the stale content verbatim. The dirs are deleted
    // first, checked, so a month whose every row were late stays
    // absent rather than surviving as a ghost partition.
    cloneWarehouse(spark, dir, target)
    lateKeys.foreach(k => graft.store.clear(spark, s"$target/month_key=$k"))
    Warehouse.withDynamicOverwrite(spark) {
      Warehouse.writeFactPartitioned(fact.filter(col("month_key").isin(lateKeys: _*) &&
        pmod(col("transaction_id"), lit(Q58LateMod)) =!= Q58LateDigit), target)
    }
    fact
  }

  /** Q58 — star-fact FRESHNESS gate (the drift-health verb every
    * other persisted tier already owns — s14 for the IVF index, s27
    * for the kNN graph, t26 for the DSIR model, t31 for the tokenizer
    * — closed at the warehouse tier): the standing month-partitioned
    * fact is STALE against the source (a late-arriving slice of
    * recent months never landed — staged deterministically so the
    * gate is non-vacuous every round), the gate MEASURES per-month
    * drift as exact integers (source census vs warehouse census, the
    * same monthCensus both sides of every star verb hash), FIRES
    * exactly the drifted months, and EXECUTES the refresh for fired
    * months only (q56's dynamic-partition-overwrite load, gated);
    * quiet months are neither read nor written. Serve = the decision
    * dashboard (stale/source/late counts, the fired bit) joined to
    * the post-apply census WITNESSED from the refreshed parquet —
    * rows_after must equal rows_source on every row or the hash
    * breaks (freshness-gate ∘ refresh ≡ rebuild).
    *
    * Scale: the measure is two month-grain censuses (one aggregate
    * over the warehouse, one over the source delta feed — at 100 TB
    * the source side comes from load-manifest counts rather than a
    * full source re-scan); the apply cost ∝ fired months only, never
    * history depth; the fired set is month-bounded driver state. */
  def q58StarFreshness(spark: SparkSession, dir: String): DataFrame = {
    val target = s"${graft.store.scratch(spark, "graft_starfr_v1", dir)}/fact_by_month"
    val fact = stageStaleWarehouse(spark, dir, target)
    // measure → fire → gated refresh live in
    // [[Warehouse.refreshDriftedMonths]] (the erasure-helper
    // precedent: the gate law is property-tested on synthetic facts
    // with drift in BOTH directions; this corpus stages missing rows)
    val decision = Warehouse.refreshDriftedMonths(spark, target,
      fact.schema, fact)
    // post-apply census witnessed from the refreshed warehouse itself
    val post = Warehouse.monthCensus(Tables.read(spark, fact.schema, target))
      .select(col("month_key"), col("n_rows").as("rows_after"),
        col("total_amount").as("amount_after"))
    decision.join(post, Seq("month_key"))
      .select(col("month_key"), col("rows_stale"), col("rows_source"),
        col("late_rows"), col("fired"), col("rows_after"), col("amount_after"))
      .orderBy(col("month_key"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q27_sales_by_hour"          -> (q27SalesByHour _),
    "q28_sales_by_shipping_tier" -> (q28SalesByShippingTier _),
    "q29_top_products_star"      -> (q29TopProducts _),
    "q55_snapshot_increment"     -> (q55SnapshotIncrement _),
    "q56_star_refresh"           -> (q56StarRefresh _),
    "q57_fact_retention"         -> (q57FactRetention _),
    "q58_star_freshness"         -> (q58StarFreshness _))

  /** Oracles re-derive the same results from first principles: the
    * staging synthesis drops nothing (inner joins on guaranteed FKs,
    * no nulls, no collisions), so the fact has exactly one row per
    * lineitem line and every derived attribute is reproducible
    * integer arithmetic. */
  val oracles: Map[String, String] = Map(
    "q27_sales_by_hour" ->
      """WITH f AS (
           SELECT (l_orderkey * 7 + l_linenumber) % 86400 AS sod, l_extendedprice
           FROM lineitem)
         SELECT CAST(sod // 3600 AS INTEGER) AS hour_24,
                CASE WHEN sod // 3600 < 6 THEN 'night'
                     WHEN sod // 3600 < 12 THEN 'morning'
                     WHEN sod // 3600 < 18 THEN 'afternoon'
                     ELSE 'evening' END AS time_bucket_period,
                round(sum(l_extendedprice), 2) AS total_sales
         FROM f GROUP BY 1, 2 ORDER BY hour_24""",
    "q28_sales_by_shipping_tier" ->
      """WITH f AS (
           SELECT CASE l_suppkey % 4 WHEN 0 THEN 'Express' WHEN 1 THEN 'Standard'
                       WHEN 2 THEN 'Same-Day' ELSE 'Courier' END AS sm,
                  l_extendedprice
           FROM lineitem)
         SELECT CASE WHEN lower(sm) LIKE '%express%' OR lower(sm) LIKE '%same%' THEN 'fast'
                     WHEN lower(sm) LIKE '%standard%' THEN 'normal'
                     ELSE 'other' END AS shipping_speed_tier,
                round(sum(l_extendedprice), 2) AS total_sales
         FROM f GROUP BY 1 ORDER BY total_sales DESC, shipping_speed_tier""",
    "q29_top_products_star" ->
      """SELECT p.p_name AS product_name, p.p_brand AS product_brand,
                round(sum(l.l_extendedprice), 2) AS revenue
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         GROUP BY 1, 2
         ORDER BY revenue DESC, product_name, product_brand
         LIMIT 10""",
    // the full-rebuild snapshot (running-sum lifetime over every
    // month) sliced to the LAST month — what the increment must equal
    "q55_snapshot_increment" ->
      """WITH f AS (
           SELECT o_custkey AS customer_id,
                  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
                  l_extendedprice AS amt, l_orderkey AS tid
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         m AS (
           SELECT customer_id, month_start, sum(amt) AS ms,
                  count(DISTINCT tid) AS mo
           FROM f GROUP BY 1, 2),
         w AS (
           SELECT customer_id, month_start, ms, mo,
                  sum(ms) OVER (PARTITION BY customer_id ORDER BY month_start) AS life
           FROM m),
         lm AS (SELECT max(month_start) AS v FROM m
                WHERE month_start < (SELECT max(month_start) FROM m))
         SELECT customer_id, month_start,
                round(ms, 2) AS month_total_spent,
                CAST(mo AS BIGINT) AS month_total_orders,
                round(life, 2) AS customer_lifetime_spent
         FROM w, lm WHERE w.month_start = lm.v
         ORDER BY customer_id""",
    // the full-rebuild per-month census the refreshed partitioned
    // fact must equal (fact rows = lineitem lines, month from the
    // order date — the staging synthesis drops nothing)
    "q56_star_refresh" ->
      """SELECT strftime(date_trunc('month', o_orderdate), '%m%Y') AS month_key,
                count(*) AS n_rows,
                round(sum(l_extendedprice), 2) AS total_amount
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY month_key""",
    // rebuild-without-victims: the same census with the erasure
    // subjects' rows gone (natural-key filter — the surrogate-key
    // mapping never leaves the engine)
    "q57_fact_retention" ->
      """SELECT strftime(date_trunc('month', o_orderdate), '%m%Y') AS month_key,
                count(*) AS n_rows,
                round(sum(l_extendedprice), 2) AS total_amount
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_custkey % 1000 <> 7
         GROUP BY 1 ORDER BY month_key""",
    // the freshness dashboard from first principles: the late slice
    // is line-ending-in-7 in the 3 most recent months (LEFT JOIN
    // month membership, not IN — the DuckDB binder quirk), the stale
    // census excludes it, fired = any drift, rows_after = the full
    // source census (gate ∘ refresh ≡ rebuild)
    "q58_star_freshness" ->
      """WITH f AS (
           SELECT strftime(date_trunc('month', o_orderdate), '%m%Y') AS month_key,
                  date_trunc('month', o_orderdate) AS m,
                  l_orderkey AS tid, l_extendedprice AS amt
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         lm AS (SELECT m, 1 AS late_month FROM
                  (SELECT DISTINCT m FROM f ORDER BY m DESC LIMIT 3)),
         g AS (SELECT f.month_key, f.tid, f.amt,
                      coalesce(lm.late_month, 0) AS ilm
               FROM f LEFT JOIN lm ON f.m = lm.m),
         c AS (
           SELECT month_key,
                  count(*) AS rows_source,
                  count(*) FILTER (WHERE NOT (ilm = 1 AND tid % 10 = 7))
                    AS rows_stale,
                  round(sum(amt), 2) AS amount_after
           FROM g GROUP BY month_key)
         SELECT month_key,
                CAST(rows_stale AS BIGINT) AS rows_stale,
                CAST(rows_source AS BIGINT) AS rows_source,
                CAST(rows_source - rows_stale AS BIGINT) AS late_rows,
                CAST(CASE WHEN rows_source <> rows_stale THEN 1 ELSE 0 END
                  AS BIGINT) AS fired,
                CAST(rows_source AS BIGINT) AS rows_after,
                amount_after
         FROM c ORDER BY month_key""")
}
