package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine's session semantics are stated: every main
  * and the test session build through here, so Bench, Verify, the dev
  * harness and the specs cannot drift apart on what a query means.
  */
object GraftSession {

  /** The engine semantics — and nothing else, because `getOrCreate`
    * applies a builder's runtime SQL confs to an EXISTING session:
    * `IngestApp` running inside an embedding application must not
    * overwrite that application's partitioning or plan-string settings.
    */
  def builder(appName: String): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      // JVM (not ICU) case mapping: the ASCII corpus makes them identical,
      // and ICU's CollationAwareUTF8String class-init stalls 20-110 s when
      // the JIT queue is busy (measured; first lower()/upper() pays it)
      .config("spark.sql.icu.caseMappings.enabled", "false")
      // reference semantics: malformed values drop rows, never raise
      // (SURVEY §1.2); also required by wrap-around hash arithmetic
      .config("spark.sql.ansi.enabled", "false")

  /** A local session on `SPARK_GRAFT_CPUS` cores (`defaultCpus` when
    * unset) with one shuffle partition per core — the harness config.
    * Bench and the dev harness default to 32, Verify to 8; plan
    * fingerprints embed the partition count, so only runs at the same
    * core count compare.
    */
  def local(appName: String, defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = builder(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // plan fingerprints must be SESSION-STATE-INDEPENDENT: the default
      // 100-char metadata truncation cuts DataFilters/ReadSchema at a
      // RAW-character budget, so longer accumulated expression ids
      // (#12345 vs #12) shift the "..." cut point and change the
      // canonical hash with zero plan change (the r10 three-contexts-
      // three-hashes q05 mystery). A large budget removes truncation;
      // normalization then yields identical strings in any session.
      .config("spark.sql.maxMetadataStringLength", "100000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
