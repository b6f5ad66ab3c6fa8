package graft

import java.nio.file.Files

/** Runner CLI (component: the reference Worker host) — run-once mode over a
  * datasets directory, including a JDBC dataset wired through `--connections`. */
class RunnerSpec extends SparkSpec {

  test("the session Runner builds resolves the library's SQL functions") {
    val shared = spark
    // getOrCreate builds a new session, over the running SparkContext, only
    // when no default or active session exists
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val own = Runner.session("2")
      assert(own ne shared)
      val sig = own.sql("SELECT minhash_sig(array('a', 'b', 'c'), 4) AS sig").head().getSeq[Long](0)
      assert(sig.size == 4)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(shared)
      org.apache.spark.sql.SparkSession.setActiveSession(shared)
    }
  }

  test("--once runs every enabled dataset: lake query + JDBC source via --connections") {
    // stage a Derby table for the JDBC dataset
    val conn = java.sql.DriverManager.getConnection("jdbc:derby:memory:runnerdb;create=true")
    try {
      val st = conn.createStatement()
      try {
        try st.execute("DROP TABLE metrics") catch { case _: java.sql.SQLException => () }
        st.execute("CREATE TABLE metrics (metric_id BIGINT, val DOUBLE)")
        st.execute("INSERT INTO metrics VALUES (1, 0.5), (2, 1.5)")
      } finally st.close()
    } finally conn.close()

    val datasets = graft.util.Scratch.dir("graft-runner-ds")
    Files.writeString(datasets.resolve("dataset-lake.json"),
      """{"datasetId": "lake-lineitem",
        | "source": {"type": "Parquet", "extractionType": "Query",
        |   "sqlText": "SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity > 45"},
        | "parquet": {"fileNamePattern": "lake_{date:yyyyMMdd}.parquet"}}""".stripMargin)
    Files.writeString(datasets.resolve("dataset-jdbc.json"),
      """{"datasetId": "jdbc-metrics",
        | "source": {"type": "Jdbc", "extractionType": "Query",
        |   "connectionStringKey": "MetricsDb",
        |   "sqlText": "SELECT METRIC_ID, VAL FROM metrics"},
        | "parquet": {"fileNamePattern": "metrics_{date:yyyyMMdd}.parquet"}}""".stripMargin)
    Files.writeString(datasets.resolve("dataset-disabled.json"),
      """{"datasetId": "disabled-one", "enabled": false,
        | "source": {"type": "Parquet", "extractionType": "Query", "sqlText": "SELECT 1"}}""".stripMargin)
    // lives inside the Scratch-managed dir, so it is cleaned with it
    val connections = datasets.resolve("conns.json")
    Files.writeString(connections,
      """{"MetricsDb": "jdbc:derby:memory:runnerdb;create=true"}""")

    val dest = graft.util.Scratch.dir("graft-runner-out")
    Runner.execute(Array(
      "--datasets", datasets.toString, "--lake", sf0001, "--dest", dest.toString,
      "--connections", connections.toString, "--once", "true"), spark)

    val written = dest.toFile.listFiles().map(_.getName).toSet
    assert(written.exists(_.startsWith("lake_")), s"lake output missing in $written")
    assert(written.exists(_.startsWith("metrics_")), s"jdbc output missing in $written")
    assert(written.count(_.endsWith(".ctl")) == 2, s"expected 2 ctl manifests in $written")
    // the disabled dataset must not have produced anything
    assert(!written.exists(_.contains("disabled")))

    val metricsFile = dest.toFile.listFiles()
      .find(f => f.getName.startsWith("metrics_") && f.getName.endsWith(".parquet")).get
    val rows = spark.read.parquet(metricsFile.toString).count()
    assert(rows == 2L)
  }

  test("--once runs a maintenance (compaction) dataset from its JSON config") {
    val dest = graft.util.Scratch.dir("graft-runner-maint")
    // a table directory that accumulated small files
    val tbl = dest.resolve("drip_tbl").toString
    (0 until 4).foreach { i =>
      spark.range(i * 100L, i * 100L + 100L).toDF("id")
        .repartition(3).write.mode("append").parquet(tbl)
    }
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(graft.sinks.ParquetSink.listPartFiles(fs,
      new org.apache.hadoop.fs.Path(tbl)).size == 12)

    val datasets = graft.util.Scratch.dir("graft-runner-maint-ds")
    Files.writeString(datasets.resolve("dataset-compact.json"),
      """{"datasetId": "compact-drip",
        | "maintenance": {"enabled": true, "compactDir": "drip_tbl"}}""".stripMargin)
    Runner.execute(Array(
      "--datasets", datasets.toString, "--lake", sf0001,
      "--dest", dest.toString, "--once", "true"), spark)

    assert(graft.sinks.ParquetSink.listPartFiles(fs,
      new org.apache.hadoop.fs.Path(tbl)).size <= 2, "not compacted")
    assert(spark.read.parquet(tbl).count() == 400L)
    assert(dest.resolve("drip_tbl.ctl").toFile.exists(), "directory CTL missing")
  }
}
