package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.Tables.table
import graft.llm.{DomainOps, SampleOps}

/** Fifteenth batch: domain-level curation — URL host extraction, blocklist
  * filtering with dot-boundary suffix semantics, and the deterministic
  * per-domain cap.
  *
  * The documents table has no URL column, so each query derives one
  * deterministically from (source, doc_id) — the SAME expression in Spark
  * and in the oracle SQL, so the assertion checks the extraction/filter/cap
  * TRANSFORM, not the plant. The four URL shapes cycle scheme+www, userinfo
  * +port, bare host, and protocol-relative forms to exercise the whole
  * authority grammar. */
object SparkEntryV15 extends EntryPart {

  private val Seed = 7L

  private def urlOf(id: Column, src: Column): Column =
    when(pmod(id, lit(4)) === 0,
      concat(lit("https://www."), src, lit(".example.com/path/"), id.cast(StringType)))
      .when(pmod(id, lit(4)) === 1,
        concat(lit("http://user:pw@"), src, lit(".example.org:8080/p?q=1")))
      .when(pmod(id, lit(4)) === 2, concat(src, lit(".example.net/x#frag")))
      .otherwise(concat(lit("//cdn."), src, lit(".co.uk/a.js")))

  private val UrlSql =
    """CASE doc_id % 4
      | WHEN 0 THEN concat('https://www.', source, '.example.com/path/', CAST(doc_id AS VARCHAR))
      | WHEN 1 THEN concat('http://user:pw@', source, '.example.org:8080/p?q=1')
      | WHEN 2 THEN concat(source, '.example.net/x#frag')
      | ELSE concat('//cdn.', source, '.co.uk/a.js') END""".stripMargin

  /** The oracle-side replay of DomainOps.extractDomain over a url expr. */
  private def domainSql(urlExpr: String): String =
    s"""NULLIF(regexp_replace(lower(regexp_extract(
       |  regexp_replace($urlExpr, '${DomainOps.SchemePrefixPattern}', ''),
       |  '${DomainOps.HostPattern}', 1)), '^www\\.', ''), '')""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    "domain_extract" -> ((s, dir) =>
      DomainOps.extractDomain(
        table(s, dir, "documents").withColumn("url", urlOf(col("doc_id"), col("source"))),
        "url")
        .select(col("doc_id"), col("domain"))),
    "domain_filter_block" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val docs = DomainOps.extractDomain(
        table(s, dir, "documents").withColumn("url", urlOf(col("doc_id"), col("source"))),
        "url")
      val list = Seq("example.com", "src1.example.org").toDF("blocked")
      DomainOps.filterByDomainList(docs, "doc_id", "domain", list, "block")
        .select(col("doc_id"), col("domain"))
    }),
    "domain_cap" -> ((s, dir) =>
      DomainOps.capPerDomain(
        table(s, dir, "documents")
          .withColumn("domain", concat(col("source"), lit(".example.com"))),
        "doc_id", "domain", cap = 10, seed = Seed)
        .select(col("doc_id"), col("domain"))),
  )

  def oracleSql: Map[String, String] = {
    val (capCtes, capBucket) = SampleOps.hashBucketSqlCtes("base", "doc_id", Seed)
    rows(
      "domain_extract" ->
        s"""SELECT doc_id, ${domainSql(UrlSql)} AS domain FROM documents""",
      "domain_filter_block" ->
        s"""WITH docs AS (SELECT doc_id, ${domainSql(UrlSql)} AS domain FROM documents),
           |bl AS (SELECT * FROM (VALUES ('example.com'), ('src1.example.org')) v(blocked))
           |SELECT doc_id, domain FROM docs d
           |WHERE NOT EXISTS (SELECT 1 FROM bl b
           |  WHERE d.domain = b.blocked OR d.domain LIKE '%.' || b.blocked)""".stripMargin,
      "domain_cap" ->
        s"""WITH base AS (
           |  SELECT doc_id, concat(source, '.example.com') AS domain FROM documents),
           |$capCtes
           |SELECT doc_id, domain FROM _h3
           |QUALIFY row_number() OVER (PARTITION BY domain ORDER BY $capBucket, doc_id) <= 10""".stripMargin,
    )
  }
}
