package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.ScdMerge

/** The reference's whole pipeline (`main()`, ipynb:318-341) re-expressed as
  * composable Spark stages:
  *
  *   cleanse (F1-F9) → SCD load (§2.5) + counters (A2) + deactivation gate
  *   (C4/J4) → enrichment (J5/F12) → structured logs (O1/O2)
  *
  * The reference crosses the client/server boundary 3×-per-row+2
  * (SURVEY §3.3); here each stage is one declarative plan and the whole run
  * is a handful of jobs regardless of row count.
  *
  * Determinism contract: batch id (`uuid()`, ipynb:20) and the clock
  * (`CURRENT_TIMESTAMP`/`CURRENT_DATE`, SQL:5-6,135) are injected.
  */
object WorldBanksPipeline {

  final case class Clock(ts: Column, date: Column)

  /** Typed outputs of one pipeline run — the reference's five durable
    * tables (SURVEY §1.1).
    */
  final case class Result(
      worldBankData: DataFrame,
      exchangeRates: DataFrame,
      bankCounters: DataFrame,
      rateCounters: DataFrame,
      processLogs: DataFrame) {
    /** Release the cached merge outputs once the batch's writes commit.
      * [[run]] persists both state frames (each feeds two consumers);
      * a long-lived session looping over batches without this call
      * accumulates two cached frames per batch until the block manager
      * starts evicting.
      */
    def unpersist(): Unit = {
      worldBankData.unpersist()
      exchangeRates.unpersist()
    }
  }

  // ------------------------------------------------------------- cleansing
  /** Bank-table cleansing (ipynb:79-102): trim scraped cells (F1), parse the
    * footer lastmod text via the split-on-"on" quirk (F2/F3, ipynb:89-90),
    * cast the market cap (F9), stamp the batch (P4/O2).
    * Input columns: bank_name, market_cap_usd (string), lastmod_text.
    */
  def cleanseBanks(raw: DataFrame, batchId: Column,
      keepRaw: Boolean = false): DataFrame =
    raw.select(Seq(
      trim(col("bank_name")).as("bank_name"),
      // try_cast: under ANSI a malformed scrape would kill the job; NULL +
      // quarantine ([[splitQuarantine]]) mirrors the reference's behavior
      // (Postgres raises on coercion, the EXCEPTION handler swallows the
      // row — SQL:118-121) without losing the row silently
      expr("try_cast(trim(market_cap_usd) AS DOUBLE)").as("market_cap_usd"),
      // try_element_at: text without "on" yields a 1-element split and a
      // plain element_at(2) THROWS under ANSI — a malformed page must land
      // in quarantine, not kill the job
      try_to_timestamp(
        trim(element_at(split(
          try_element_at(split(col("lastmod_text"), "on"), lit(2)),
          ","), 1)), lit("d MMMM yyyy")).cast("date")
        .as("last_modified_date"),
      batchId.as("batch_id")) ++ rawCarry(raw, keepRaw): _*)

  /** keepRaw = true carries every raw input column as `raw_<name>` beside
    * its cleansed form — the shape [[splitQuarantine]] consumes so each
    * rejected row is attributed its OWN raw payload (a join-back on a
    * non-unique key cannot do that: duplicate or NULL keys would either
    * fan out or attribute a different row's — possibly parseable — value).
    */
  private def rawCarry(raw: DataFrame, keepRaw: Boolean): Seq[Column] =
    if (keepRaw) raw.columns.toSeq.map(c => col(c).as(s"raw_$c")) else Nil

  /** Rates-table cleansing (ipynb:127-166): trim (F1), cast (F9), synthesize
    * the year-end date `31-12-<year>` (F6, ipynb:143), stamp the batch.
    * Input columns: country, currency, exchange_rate (string); `year` comes
    * from header sniffing ([[sniffYear]]) as in ipynb:131-139.
    */
  def cleanseRates(raw: DataFrame, year: String, batchId: Column): DataFrame =
    raw.select(
      trim(col("country")).as("country"),
      trim(col("currency")).as("currency"),
      expr("try_cast(trim(exchange_rate) AS DOUBLE)").as("exchange_rate"),
      to_date(concat(lit("31-12-"), lit(year)), "dd-MM-yyyy").as("year"),
      batchId.as("batch_id"))

  /** Header year sniffing (F5, ipynb:131-139): first header that is a
    * 4-digit number. Header rows are table metadata, so this is a driver-side
    * scalar — exactly as in the reference.
    */
  def sniffYear(headers: Seq[String]): Option[String] =
    headers.find(h => h.length == 4 && h.forall(_.isDigit))

  /** Permissive-mode split (the engine's answer to the reference's
    * swallow-into-NOTICE error handling, SQL:118-121 / SURVEY §2.9 C2): a
    * cleansed batch is split into rows whose casts/parses all succeeded and
    * a quarantine frame carrying the raw values plus a reason column. At
    * scale the quarantine is an append-only sink reviewed out-of-band —
    * errors neither kill the job (reference behavior) nor silently vanish
    * (reference's actual failure mode).
    */
  def splitQuarantine(cleansed: DataFrame,
      requiredCols: Seq[String], joinKey: String)
      : (DataFrame, DataFrame) = {
    // exact per-row attribution: the cleansed frame CARRIES its raw
    // columns (cleanse with keepRaw = true), so no join back to the raw
    // frame is needed — a key join cannot attribute exactly when keys
    // are NULL or duplicated (fan-out, or a different — possibly
    // parseable — row's payload shown for a failed row)
    val carried = cleansed.columns.filter(_.startsWith("raw_")).toSeq
    require(carried.nonEmpty,
      "splitQuarantine needs a cleanse(keepRaw = true) frame: no raw_* " +
        "columns to attribute rejects from")
    val bad = requiredCols.map(c => col(c).isNull).reduce(_ || _)
    val good = cleansed.filter(!bad).drop(carried: _*)
    val reasons = concat_ws(",", requiredCols.map(c =>
      when(col(c).isNull, lit(c))): _*)
    val quarantined = cleansed.filter(bad)
      .select(col(joinKey) +: reasons.as("null_fields") +:
        carried.filterNot(_ == s"raw_$joinKey")
          .map(c => col(c).as(c.stripPrefix("raw_"))): _*)
    (good, quarantined)
  }

  // ----------------------------------------------------------------- load
  val BankCfg: ScdMerge.Config = ScdMerge.Config(
    keys = Seq("bank_name"), valueCol = "market_cap_usd",
    payloads = Seq("last_modified_date"))
  val RateCfg: ScdMerge.Config = ScdMerge.Config(
    keys = Seq("country", "currency", "year"), valueCol = "exchange_rate",
    scd2 = false)

  /** Bank load: hybrid SCD merge with the deactivation gate (C4,
    * ipynb:240-246) — the reference only deactivates when the batch actually
    * carried rows; an empty extraction leaves the target untouched. The gate
    * is genuine control flow in the reference, so it is a driver-side
    * decision here too (one cheap `isEmpty` on the already-deduped batch).
    */
  def loadBanks(incoming: DataFrame, target: DataFrame, clock: Clock,
      batchId: Column): DataFrame =
    if (incoming.isEmpty) {
      target.withColumn(ScdMerge.ChangeCol, lit("carry"))
    } else {
      ScdMerge.merge(incoming, target, BankCfg, clock.ts, clock.date, batchId)
    }

  def loadRates(incoming: DataFrame, target: DataFrame, clock: Clock,
      batchId: Column): DataFrame =
    ScdMerge.merge(incoming, target, RateCfg, clock.ts, clock.date, batchId)

  // ----------------------------------------------------------- enrichment
  /** The declared-but-unimplemented enrichment output
    * (SQL/etl_world_banks.sql:317-318): MC_GBP/EUR/INR_Billion columns.
    * Rates for the three currencies pivot to ONE broadcast row — the fact
    * side never shuffles. `min` (not `first`) keeps the pivot deterministic
    * under duplicate currency rows.
    */
  val EnrichCurrencies: Seq[String] = Seq("Pound", "Euro", "Rupee")

  def enrich(banks: DataFrame, rates: DataFrame): DataFrame = {
    val r = rates.filter(col("currency").isInCollection(EnrichCurrencies))
      .groupBy().pivot("currency", EnrichCurrencies)
      .agg(min(col("exchange_rate")))
    banks.crossJoin(broadcast(r))
      .select(col("bank_name"), col("market_cap_usd"),
        round(col("market_cap_usd") * col("Pound"), 2).as("MC_GBP_Billion"),
        round(col("market_cap_usd") * col("Euro"), 2).as("MC_EUR_Billion"),
        round(col("market_cap_usd") * col("Rupee"), 2).as("MC_INR_Billion"))
  }

  // ----------------------------------------------------------------- logs
  /** Structured progress log (O1, ipynb:51-56 / SQL:291-315): phase rows
    * with the batch lineage stamp, one append-only frame per run.
    */
  def logFrame(spark: org.apache.spark.sql.SparkSession,
      phases: Seq[(String, String)], clock: Clock,
      batchId: Column): DataFrame = {
    import spark.implicits._
    phases.toDF("log_phase", "message")
      .withColumn("datetime", clock.ts)
      .withColumn("batch_id", batchId)
  }

  // ------------------------------------------------------------------ run
  /** Full lifecycle over already-extracted raw frames (S1-S4 become fixture
    * reads — SURVEY §7.5).
    */
  def run(spark: org.apache.spark.sql.SparkSession,
      rawBanks: DataFrame, rawRates: DataFrame, ratesYear: String,
      bankTarget: DataFrame, rateTarget: DataFrame,
      clock: Clock, batchId: Column): Result = {
    val banks = cleanseBanks(rawBanks, batchId)
    val rates = cleanseRates(rawRates, ratesYear, batchId)
    // persist: the merge output feeds TWO consumers (state write +
    // counters) — uncached, each action re-runs the full-outer join,
    // windows, and explode; at scale that is a whole extra pass. Lazy
    // persist (not checkpoint) so a caller consuming only one output pays
    // only one evaluation; call Result.unpersist() after the batch commits.
    val bankState = loadBanks(banks, bankTarget, clock, batchId).persist()
    val rateState = loadRates(rates, rateTarget, clock, batchId).persist()
    Result(
      worldBankData = bankState,
      exchangeRates = rateState,
      bankCounters = ScdMerge.counters(bankState, batchId, "world_bank_data"),
      rateCounters = ScdMerge.counters(rateState, batchId, "exchanges_rates"),
      processLogs = logFrame(spark, Seq(
        "extract" -> "scraped world bank + exchange rate tables",
        "transform" -> "cleansed and typed incoming batches",
        "load" -> "merged batches into durable state"), clock, batchId))
  }
}
