package graft.operators

import graft.{QueryDef, Tables}
import graft.sources.{FormatSources, GraftFs}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Group B extension (round 4) — the interchange-format source/sink paths
  * as ORACLE-CHECKED queries, not just specs: each query round-trips a
  * fixture table through CSV / JSON lines / ORC under builder scratch
  * (written once per scale dir, _SUCCESS-guarded like the other derived
  * layouts) and reads it back with an explicit schema; the oracle reads
  * the ORIGINAL parquet, so any value corruption in the engine's
  * format writers or readers hash-fails. Tables are chosen so the text
  * formats are lossless: nation/supplier carry only ints, strings, and
  * binary64 doubles (Spark's CSV/JSON writers emit round-trip-precise
  * doubles).
  */
object SourceQueries {

  /** Path of scratch copy `name`, written once per scale dir by `write`. */
  private def scratch(s: SparkSession, dir: String, name: String)(write: String => Unit): String =
    GraftFs.artifact(s, dir, tag => s"target/graft-formats/$tag/$name")(write)

  /** CSV scan: nation round-tripped through the CSV sink+source. */
  val scanCsv = QueryDef(
    "q_scan_csv",
    (s, dir) => {
      val src = Tables.nation(s, dir)
      val path = scratch(s, dir, "nation_csv")(FormatSources.writeCsv(src, _))
      FormatSources.readCsv(s, path, src.schema)
        .orderBy("n_nationkey")
    },
    Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"),
  )

  /** JSON-lines scan: supplier round-tripped through the JSON sink+source
    * (doubles survive — Jackson emits round-trip-precise binary64 text).
    */
  val scanJson = QueryDef(
    "q_scan_json",
    (s, dir) => {
      val src = Tables.supplier(s, dir)
      val path = scratch(s, dir, "supplier_json")(FormatSources.writeJson(src, _))
      FormatSources.readJson(s, path, src.schema)
        .orderBy("s_suppkey")
    },
    Some("SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier ORDER BY s_suppkey"),
  )

  /** ORC scan: customer round-tripped through the ORC sink+source
    * (binary columnar — types preserved exactly, vectorized read).
    */
  val scanOrc = QueryDef(
    "q_scan_orc",
    (s, dir) => {
      val src = Tables.customer(s, dir)
      val path = scratch(s, dir, "customer_orc")(FormatSources.writeOrc(src, _))
      FormatSources.readOrc(s, path)
        .orderBy("c_custkey")
    },
    Some("SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer ORDER BY c_custkey"),
  )

  /** Compaction round-trip (SURVEY §7.6 #3): orders is deliberately
    * fragmented into 64 small parquet files (the shape an incremental /
    * streaming ingest leaves behind), compacted with
    * FormatSources.compactParquet to ~1/8 of the fragmented byte size per
    * output file, and read back. The oracle reads the ORIGINAL parquet,
    * so any row lost, duplicated, or corrupted by the compactor
    * hash-fails; the ensure step additionally pins the file-count
    * contract (output files == ceil(bytes/target) < input files) — the
    * part an oracle can't see. Round-robin repartition inside the
    * compactor means no key skew in output file sizes at any scale.
    */
  val scanCompacted = QueryDef(
    "q_scan_compacted",
    (s, dir) => {
      val fragPath = scratch(s, dir, "orders_fragmented") { p =>
        Tables.orders(s, dir).repartition(64)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(p)
      }
      val outPath = scratch(s, dir, "orders_compacted") { p =>
        val frags = GraftFs.listFiles(s, fragPath)
          .filter(_.getPath.getName.endsWith(".parquet"))
        val fragFiles = frags.length
        val bytes = frags.map(_.getLen).sum
        val target = math.max(1L, bytes / 8)
        val nOut = FormatSources.compactParquet(s, fragPath, p, targetBytes = target)
        require(nOut == math.ceil(bytes.toDouble / target).toInt && nOut < fragFiles,
          s"compaction contract violated: $fragFiles files / $bytes bytes -> $nOut files")
      }
      s.read.parquet(outPath)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             strftime(o_orderdate, '%Y-%m-%d') AS o_date
      FROM orders ORDER BY o_orderkey
    """.trim),
  )

  /** Schema-evolution scan: two parquet generations of the same logical
    * table — gen0 written BEFORE a column existed (even order keys,
    * three columns), gen1 after (odd keys, + o_orderpriority) — read
    * back as ONE frame via mergeSchema, the missing column null-filled
    * for gen0 rows. This is the append-only table-evolution contract
    * every long-lived 100 TB dataset needs (columns arrive, history
    * doesn't rewrite); the oracle reconstructs the unified view from the
    * fixture with the same parity rule, so the driver verifies the
    * merged read end-to-end, nulls included.
    */
  val scanEvolved = QueryDef(
    "q_scan_evolved",
    (s, dir) => {
      val gen0 = scratch(s, dir, "orders_gen0") { p =>
        Tables.orders(s, dir).filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(p)
      }
      val gen1 = scratch(s, dir, "orders_gen1") { p =>
        Tables.orders(s, dir).filter(col("o_orderkey") % 2 === 1)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(p)
      }
      s.read.option("mergeSchema", "true").parquet(gen0, gen1)
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice,
             CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS o_orderpriority
      FROM orders ORDER BY o_orderkey
    """.trim),
  )

  def defs: Seq[QueryDef] = Seq(scanCsv, scanJson, scanOrc, scanCompacted, scanEvolved)
}
