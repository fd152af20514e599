package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.Catalog

/** Driver contract — see SURVEY.md §7.
  *
  * Every implemented operator from SURVEY.md §2 (and the training-data
  * pipeline extensions) is one row of [[Catalog.gates]]: a name, a
  * DataFrame builder over a testdata sf directory and, where the
  * semantics are SQL-expressible, the DuckDB twin the driver
  * hash-compares against. `queries` and `oracleSql` are that table as
  * the two maps the driver reads, built once. Names present in `queries`
  * but absent from `oracleSql` get the weaker rows-only check
  * (approximate / non-SQL-expressible operators only).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    // The flagship needs the int64-nanos parquet `ts` column readable even
    // when the driver's session didn't set the legacy nanos config.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Catalog.hotItems(spark, "/root/testdata/sf0.001")
  }

  /** One entry per gate: name → builder. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.gates.map(g => g.name -> g.build).toMap

  /** For each gate with an oracle, equivalent ANSI SQL runnable by DuckDB
    * on the same parquet tables. Rows-only gates have no entry. */
  val oracleSql: Map[String, String] =
    Catalog.gates.flatMap(g => g.oracle.map(g.name -> _)).toMap
}
