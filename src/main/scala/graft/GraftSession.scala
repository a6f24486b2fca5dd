package graft

import org.apache.spark.sql.SparkSession

/** Canonical SparkSession for the engine: UTC, AQE on, shuffle parallelism
  * sized to local cores (not the 200 default). At cluster scale the same
  * settings hold — AQE coalesces/skew-splits shuffle partitions at runtime.
  */
object GraftSession {

  /** Temp directory removed recursively on JVM exit — the one scratch-dir
    * helper, shared by the warehouse below and Sources' sink round-trips. */
  def tempDirCleanedOnExit(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(p.toFile): Unit))
    p
  }

  /** Deletes `f` and everything under it — the one recursive delete for
    * temp and store trees. Returns whether `f` is gone afterwards (true
    * for a path that never existed); callers that must not strand a tree
    * fail loudly on false. */
  def deleteTree(f: java.io.File): Boolean = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete() || !f.exists()
  }

  /** saveAsTable target (bucketed tables): per-JVM scratch, removed on
    * exit — the default would drop a spark-warehouse dir into the cwd. */
  private lazy val warehouseDir: String =
    tempDirCleanedOnExit("graft-warehouse").toString

  def builder(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession.Builder =
    SparkSession.builder()
      // SQL names for the native kernels (vec_dot, minhash_sig, …) on
      // every graft session; foreign sessions use GraftFunctions.register
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // explicit (it defaults on): hot-key joins re-split at runtime — the
      // skew answer at 100 TB, instead of hand-salting every join
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // wide aggregates (64-bit simhash votes = 64 sum columns) must stay
      // inside whole-stage codegen; the default 100-field cap silently
      // drops them to the interpreted path (~5× slower)
      .config("spark.sql.codegen.maxFields", "256")
      // the typed Pregel engine shuffles RDD records (message tuples); Kryo
      // serializes them ~3-5× tighter/faster than the JavaSerializer
      // default. Dataset/DataFrame paths are untouched (UnsafeRow).
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // 8 MB Tungsten pages (default up to 64 MB): with build.sbt's 32 MB
      // G1 regions these stay below the humongous threshold (region/2), so
      // hash-agg/sort pages are ordinary eden-recycled allocations instead
      // of fresh-region humongous ones — the difference between reusing
      // warm OS pages and re-faulting new ones on hosts that throttle
      // first-touch (measured 3-5× on the text-aggregate queries). Spill
      // granularity at 8 MB is unchanged-in-kind; executors on a real
      // cluster run the same flag pair.
      .config("spark.buffer.pageSize", "8m")
      // engine-setup registration of built-in user join ops (the
      // `bsp.join.define.<ident>` hook, ref core/.../bsp/join/
      // CompositeInputFormat.java:78-91): queries resolve these via
      // JoinSpec.definesFromConf → Class.forName, without mutating session
      // state inside a query closure (ADVICE r2)
      .config("graft.join.define.concat2", classOf[operators.ConcatValsOp].getName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
