package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-4 batch 76: Morton (Z-order) interleaving, week-over-week
  * active-user overlap, and the quoted CSV write→read round trip.
  */
object Round4Ops76 {

  /** Morton code: interleave the low 8 bits of two coordinates into a
    * 16-bit Z-order key — the locality-preserving linearization under
    * data-skipping layouts (the scalar core of the engine's OPTIMIZE
    * Z-order). Pure shift/mask arithmetic folded over a sequence, so
    * both engines compute identical integers bit for bit.
    */
  val f_morton_code = OpQuery(
    "f_morton_code",
    """WITH pts AS (
      |  SELECT s_suppkey, s_suppkey % 256 AS x, (s_suppkey * 37) % 256 AS y
      |  FROM supplier)
      |SELECT s_suppkey, CAST(x AS INT) AS x, CAST(y AS INT) AS y,
      |       CAST(list_sum(list_transform(range(0, 8), i ->
      |         (((x >> i) & 1) << (2 * i)) + (((y >> i) & 1) << (2 * i + 1))))
      |         AS BIGINT) AS morton
      |FROM pts
      |ORDER BY s_suppkey""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "supplier").createOrReplaceTempView("graft_morton_supp")
    spark.sql(
      """WITH pts AS (
        |  SELECT s_suppkey, s_suppkey % 256 AS x, (s_suppkey * 37) % 256 AS y
        |  FROM graft_morton_supp)
        |SELECT s_suppkey, CAST(x AS INT) AS x, CAST(y AS INT) AS y,
        |       CAST(aggregate(sequence(0, 7), 0L, (acc, i) ->
        |         acc + (shiftleft(shiftright(x, i) & 1, 2 * i)) +
        |               (shiftleft(shiftright(y, i) & 1, 2 * i + 1)))
        |         AS BIGINT) AS morton
        |FROM pts
        |ORDER BY s_suppkey""".stripMargin)
  }

  /** Week-over-week audience overlap: for each adjacent ISO-week pair,
    * the retained / new / churned user counts and the Jaccard overlap —
    * the cohort-stability metric behind "is our audience the same
    * people?". Weekly distinct sets reduce first (small), then a
    * self-join on week+1; at scale both sides of that join are already
    * aggregates, not raw events.
    */
  val event_week_overlap = OpQuery.sql("event_week_overlap", "events")(
    """WITH wk AS (
      |  SELECT DISTINCT CAST(FLOOR(epoch(ts) / 604800) AS BIGINT) AS w, user_id
      |  FROM events),
      |pairs AS (
      |  SELECT a.w AS w0,
      |         COUNT(*) FILTER (WHERE b.user_id IS NOT NULL) AS retained,
      |         COUNT(*) FILTER (WHERE b.user_id IS NULL) AS churned
      |  FROM wk a LEFT JOIN wk b ON b.w = a.w + 1 AND b.user_id = a.user_id
      |  GROUP BY a.w),
      |sizes AS (SELECT w, COUNT(*) AS n FROM wk GROUP BY w)
      |SELECT p.w0, CAST(s0.n AS BIGINT) AS n_week, CAST(s1.n AS BIGINT) AS n_next,
      |       CAST(p.retained AS BIGINT) AS retained,
      |       CAST(p.churned AS BIGINT) AS churned,
      |       CAST(s1.n - p.retained AS BIGINT) AS new_users,
      |       CAST(ROUND(CAST(p.retained AS DOUBLE) /
      |            (s0.n + s1.n - p.retained), 6) AS DOUBLE) AS jaccard
      |FROM pairs p
      |JOIN sizes s0 ON p.w0 = s0.w
      |JOIN sizes s1 ON p.w0 + 1 = s1.w
      |ORDER BY p.w0""".stripMargin,
    "epoch(" -> "unix_timestamp(")

  /** Quoted-CSV round trip: document previews — which contain commas,
    * quotes, and newlines — written through Spark's CSV writer with
    * full quoting/escaping and read back with the multiline reader.
    * The oracle recomputes the expected rows from parquet, so a hash
    * match proves the writer/reader escaping loop is lossless on
    * adversarial content.
    */
  val s38_csv_write_roundtrip = OpQuery(
    "s38_csv_write_roundtrip",
    """WITH first300 AS (
      |  SELECT doc_id, CAST(doc_id AS VARCHAR) || ':' || substr(text, 1, 80) AS preview, lang
      |  FROM documents ORDER BY doc_id LIMIT 300)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id, preview, lang
      |FROM first300
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val outPath = s"/tmp/graft_csv_rt_${math.abs(dir.hashCode)}"
    Tables.load(spark, dir, "documents")
      .orderBy(col("doc_id"))
      .limit(300)
      .select(col("doc_id"), concat(col("doc_id").cast("string"), lit(":"),
        substring(col("text"), 1, 80)).as("preview"), col("lang"))
      .coalesce(1)
      .write.mode("overwrite")
      .option("header", "true")
      .option("quoteAll", "true")
      .option("escape", "\"")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(outPath)
    spark.read
      .option("header", "true")
      .option("multiLine", "true")
      .option("escape", "\"")
      .option("inferSchema", "false")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(outPath)
      .select(col("doc_id").cast("long").as("doc_id"), col("preview"), col("lang"))
      .orderBy("doc_id")
  }

  val all: Seq[OpQuery] = Seq(f_morton_code, event_week_overlap, s38_csv_write_roundtrip)
}
