package graft.fixtures

import graft.GraftSession
import graft.engine.GraftEngine
import graft.mappings.{ConfigParser, RmlParser}
import graft.model.{LakeConfig, MappingsDoc}
import graft.sparql.SparqlParser
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** A semantic-data-lake binding of the driver's TPC-H-ish test tables
  * (TESTDATA.md) — the analogue of the reference's BSBM
  * mappings.ttl + config (evaluation/input_files/). Exercises every
  * reference behavior on local deterministic data: star decomposition, id
  * templates, FK equi-join chains, rdf:type source selection, multi-source
  * union (nation: parquet + derived CSV), and join-side TRANSFORMs
  * (part: derived CSV with string-shifted keys).
  */
object TpchLake {

  val NS = "http://graft.io/schema/"

  /** Derived fixtures live under `target/derived` of the working
    * directory (never in the testdata lake), as an absolute path, one
    * directory per `key`: an sf dir (by its base name), or the name of a
    * gate's own scale-independent fixture. The only place the
    * derived-fixture root is spelled. */
  private[graft] def derivedDir(key: String): String =
    new java.io.File("target/derived", new java.io.File(key).getName).getAbsolutePath

  def mappingsText(sfDir: String): String = {
    val d = derivedDir(sfDir)
    s"""@prefix g: <$NS>
       |@prefix rr: <http://www.w3.org/ns/r2rml#>
       |@prefix rml: <http://semweb.mmlab.be/ns/rml#>
       |@prefix nosql: <http://purl.org/db/nosql#>
       |@prefix fnml: <http://semweb.mmlab.be/ns/fnml#>
       |@prefix fno: <http://w3id.org/function/ontology#>
       |@prefix grel: <http://users.ugent.be/~bjdmeest/function/grel.ttl#>
       |
       |<#RegionMap>
       |  rml:logicalSource [ rml:source "$sfDir/region.parquet"; nosql:store nosql:parquet ];
       |  rr:subjectMap [ rr:template "http://graft.io/region/{r_regionkey}"; rr:class g:Region ];
       |  rr:predicateObjectMap [ rr:predicate g:regionName; rr:objectMap [ rml:reference "r_name" ] ] .
       |
       |<#NationMap>
       |  rml:logicalSource [ rml:source "$sfDir/nation.parquet"; nosql:store nosql:parquet ];
       |  rr:subjectMap [ rr:template "http://graft.io/nation/{n_nationkey}"; rr:class g:Nation ];
       |  rr:predicateObjectMap [ rr:predicate g:nationName; rr:objectMap [ rml:reference "n_name" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:region; rr:objectMap [ rml:reference "n_regionkey" ] ] .
       |
       |<#CustomerMap>
       |  rml:logicalSource [ rml:source "$sfDir/customer.parquet"; nosql:store nosql:parquet ];
       |  rr:subjectMap [ rr:template "http://graft.io/customer/{c_custkey}"; rr:class g:Customer ];
       |  rr:predicateObjectMap [ rr:predicate g:custName; rr:objectMap [ rml:reference "c_name" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:custNation; rr:objectMap [ rml:reference "c_nationkey" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:acctbal; rr:objectMap [ rml:reference "c_acctbal" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:mktsegment; rr:objectMap [ rml:reference "c_mktsegment" ] ] .
       |
       |<#SupplierMap>
       |  rml:logicalSource [ rml:source "$sfDir/supplier.parquet"; nosql:store nosql:parquet ];
       |  rr:subjectMap [ rr:template "http://graft.io/supplier/{s_suppkey}"; rr:class g:Supplier ];
       |  rr:predicateObjectMap [ rr:predicate g:suppName; rr:objectMap [ rml:reference "s_name" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:suppNation; rr:objectMap [ rml:reference "s_nationkey" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:suppAcctbal; rr:objectMap [ rml:reference "s_acctbal" ] ] .
       |
       |<#PartMap>
       |  rml:logicalSource [ rml:source "$sfDir/part.parquet"; nosql:store nosql:parquet ];
       |  rr:subjectMap [ rr:template "http://graft.io/part/{p_partkey}"; rr:class g:Part ];
       |  rr:predicateObjectMap [ rr:predicate g:partName; rr:objectMap [ rml:reference "p_name" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:brand; rr:objectMap [ rml:reference "p_brand" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:ptype; rr:objectMap [ rml:reference "p_type" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:psize; rr:objectMap [ rml:reference "p_size" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:retailprice; rr:objectMap [ rml:reference "p_retailprice" ] ] .
       |
       |<#OrdersMap>
       |  rml:logicalSource [ rml:source "$sfDir/orders.parquet"; nosql:store nosql:parquet ];
       |  rr:subjectMap [ rr:template "http://graft.io/order/{o_orderkey}"; rr:class g:Order ];
       |  rr:predicateObjectMap [ rr:predicate g:customer; rr:objectMap [ rml:reference "o_custkey" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:orderstatus; rr:objectMap [ rml:reference "o_orderstatus" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:totalprice; rr:objectMap [ rml:reference "o_totalprice" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:orderdate; rr:objectMap [ rml:reference "o_orderdate" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:orderpriority; rr:objectMap [ rml:reference "o_orderpriority" ] ] .
       |
       |<#LineitemMap>
       |  rml:logicalSource [ rml:source "$sfDir/lineitem.parquet"; nosql:store nosql:parquet ];
       |  rr:subjectMap [ rr:template "http://graft.io/lineitem/{l_orderkey}"; rr:class g:Lineitem ];
       |  rr:predicateObjectMap [ rr:predicate g:order; rr:objectMap [ rml:reference "l_orderkey" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:part; rr:objectMap [ rml:reference "l_partkey" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:supplier; rr:objectMap [ rml:reference "l_suppkey" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:quantity; rr:objectMap [ rml:reference "l_quantity" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:extprice; rr:objectMap [ rml:reference "l_extendedprice" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:discount; rr:objectMap [ rml:reference "l_discount" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:tax; rr:objectMap [ rml:reference "l_tax" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:returnflag; rr:objectMap [ rml:reference "l_returnflag" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:linestatus; rr:objectMap [ rml:reference "l_linestatus" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:shipdate; rr:objectMap [ rml:reference "l_shipdate" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:linenumber; rr:objectMap [ rml:reference "l_linenumber" ] ] .
       |
       |<#NationAllParquet>
       |  rml:logicalSource [ rml:source "$sfDir/nation.parquet"; nosql:store nosql:parquet ];
       |  rr:subjectMap [ rr:template "http://graft.io/nation/{n_nationkey}" ];
       |  rr:predicateObjectMap [ rr:predicate g:uNationName; rr:objectMap [ rml:reference "n_name" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:uRegion; rr:objectMap [ rml:reference "n_regionkey" ] ] .
       |
       |<#NationAllCsv>
       |  rml:logicalSource [ rml:source "$d/nation_csv"; nosql:store nosql:csv ];
       |  rr:subjectMap [ rr:template "http://graft.io/nation/{n_nationkey}" ];
       |  rr:predicateObjectMap [ rr:predicate g:uNationName; rr:objectMap [ rml:reference "n_name" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:uRegion; rr:objectMap [ rml:reference "n_regionkey" ] ] .
       |
       |<#NationJsonMap>
       |  rml:logicalSource [ rml:source "$d/nation_json"; nosql:store nosql:json ];
       |  rr:subjectMap [ rr:template "http://graft.io/nation/{n_nationkey}" ];
       |  rr:predicateObjectMap [ rr:predicate g:jNationName; rr:objectMap [ rml:reference "n_name" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:jRegion; rr:objectMap [ rml:reference "n_regionkey" ] ] .
       |
       |<#NationOrcMap>
       |  rml:logicalSource [ rml:source "$d/nation_orc"; nosql:store nosql:orc ];
       |  rr:subjectMap [ rr:template "http://graft.io/nation/{n_nationkey}" ];
       |  rr:predicateObjectMap [ rr:predicate g:oNationName; rr:objectMap [ rml:reference "n_name" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:oRegion; rr:objectMap [ rml:reference "n_regionkey" ] ] .
       |
       |<#PartShiftedMap>
       |  rml:logicalSource [ rml:source "$d/part_shifted_csv"; nosql:store nosql:csv ];
       |  rr:subjectMap [ rr:template "http://graft.io/partshift/{p_partkey_s}" ];
       |  rr:predicateObjectMap [ rr:predicate g:shiftPartName; rr:objectMap [ rml:reference "p_name" ] ] .
       |
       |<#FnScale100>
       |  fnml:functionValue [
       |    rml:logicalSource "$sfDir/nation.parquet" ;
       |    rr:predicateObjectMap [ rr:predicate fno:executes; rr:objectMap [ rr:constant grel:scale ] ] ;
       |    rr:predicateObjectMap [ rr:predicate grel:valueParam1; rr:objectMap [ rr:reference "n_regionkey" ] ] ;
       |    rr:predicateObjectMap [ rr:predicate grel:valueParam2; rr:objectMap [ rr:reference "+100" ] ] ;
       |  ] .
       |
       |<#FnPrefixN>
       |  fnml:functionValue [
       |    rml:logicalSource "$sfDir/nation.parquet" ;
       |    rr:predicateObjectMap [ rr:predicate fno:executes; rr:objectMap [ rr:constant grel:prefix ] ] ;
       |    rr:predicateObjectMap [ rr:predicate grel:valueParam1; rr:objectMap [ rr:reference "n_name" ] ] ;
       |    rr:predicateObjectMap [ rr:predicate grel:valueParam2; rr:objectMap [ rr:reference "N_" ] ] ;
       |  ] .
       |
       |<#NationFnoMap>
       |  rml:logicalSource [ rml:source "$sfDir/nation.parquet"; nosql:store nosql:parquet ];
       |  rr:subjectMap [ rr:template "http://graft.io/nationfno/{n_nationkey}" ];
       |  rr:predicateObjectMap [ rr:predicate g:fnoReg; rr:objectMap <#FnScale100> ];
       |  rr:predicateObjectMap [ rr:predicate g:fnoName; rr:objectMap <#FnPrefixN> ] .
       |
       |<#FnSubstSrc>
       |  fnml:functionValue [
       |    rml:logicalSource "$sfDir/documents.parquet" ;
       |    rr:predicateObjectMap [ rr:predicate fno:executes; rr:objectMap [ rr:constant grel:substitute ] ] ;
       |    rr:predicateObjectMap [ rr:predicate grel:valueParam1; rr:objectMap [ rr:reference "source" ] ] ;
       |    rr:predicateObjectMap [ rr:predicate grel:valueParam2; rr:objectMap [ rr:reference "src0" ] ] ;
       |    rr:predicateObjectMap [ rr:predicate grel:valueParam3; rr:objectMap [ rr:reference "SRC" ] ] ;
       |  ] .
       |
       |<#FnReplText>
       |  fnml:functionValue [
       |    rml:logicalSource "$sfDir/documents.parquet" ;
       |    rr:predicateObjectMap [ rr:predicate fno:executes; rr:objectMap [ rr:constant grel:replace ] ] ;
       |    rr:predicateObjectMap [ rr:predicate grel:valueParam1; rr:objectMap [ rr:reference "text" ] ] ;
       |    rr:predicateObjectMap [ rr:predicate grel:valueParam2; rr:objectMap [ rr:reference "widget" ] ] ;
       |    rr:predicateObjectMap [ rr:predicate grel:valueParam3; rr:objectMap [ rr:reference "gadget" ] ] ;
       |  ] .
       |
       |<#FnPostfixLang>
       |  fnml:functionValue [
       |    rml:logicalSource "$sfDir/documents.parquet" ;
       |    rr:predicateObjectMap [ rr:predicate fno:executes; rr:objectMap [ rr:constant grel:postfix ] ] ;
       |    rr:predicateObjectMap [ rr:predicate grel:valueParam1; rr:objectMap [ rr:reference "lang" ] ] ;
       |    rr:predicateObjectMap [ rr:predicate grel:valueParam2; rr:objectMap [ rr:reference "_x" ] ] ;
       |  ] .
       |
       |<#DocsFnoMap>
       |  rml:logicalSource [ rml:source "$sfDir/documents.parquet"; nosql:store nosql:parquet ];
       |  rr:subjectMap [ rr:template "http://graft.io/docfno/{doc_id}" ];
       |  rr:predicateObjectMap [ rr:predicate g:fnoSource; rr:objectMap <#FnSubstSrc> ];
       |  rr:predicateObjectMap [ rr:predicate g:fnoText; rr:objectMap <#FnReplText> ];
       |  rr:predicateObjectMap [ rr:predicate g:fnoLang; rr:objectMap <#FnPostfixLang> ] .
       |
       |<#NationNtMap>
       |  rml:logicalSource [ rml:source "$d/nation_nt"; nosql:store nosql:rdf ];
       |  rr:subjectMap [ rr:template "http://graft.io/nation/{id}" ];
       |  rr:predicateObjectMap [ rr:predicate g:ntName; rr:objectMap [ rml:reference "name" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:ntRegion; rr:objectMap [ rml:reference "regionkey" ] ] .
       |
       |<#OrgMap>
       |  rml:logicalSource [ rml:source "$d/org_parquet"; nosql:store nosql:parquet ];
       |  rr:subjectMap [ rr:template "http://graft.io/emp/{o_empkey}"; rr:class g:Emp ];
       |  rr:predicateObjectMap [ rr:predicate g:mgr; rr:objectMap [ rml:reference "o_mgrkey" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:empName; rr:objectMap [ rml:reference "o_name" ] ] .
       |
       |<#EventsMap>
       |  rml:logicalSource [ rml:source "$sfDir/events.parquet"; nosql:store nosql:parquet ];
       |  rr:subjectMap [ rr:template "http://graft.io/event/{event_id}"; rr:class g:Event ];
       |  rr:predicateObjectMap [ rr:predicate g:eventType; rr:objectMap [ rml:reference "event_type" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:eventUser; rr:objectMap [ rml:reference "user_id" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:eventValue; rr:objectMap [ rml:reference "value" ] ] .
       |
       |<#NationJdbcMap>
       |  rml:logicalSource [ rml:source "//NationJdbc"; nosql:store nosql:jdbc ];
       |  rr:subjectMap [ rr:template "http://graft.io/nationjdbc/{N_NATIONKEY}" ];
       |  rr:predicateObjectMap [ rr:predicate g:jdbcName; rr:objectMap [ rml:reference "N_NAME" ] ];
       |  rr:predicateObjectMap [ rr:predicate g:jdbcRegion; rr:objectMap [ rml:reference "N_REGIONKEY" ] ] .
       |""".stripMargin
  }

  private def jdbcTable(sfDir: String): String =
    "NATION_J_" + new java.io.File(sfDir).getName.replaceAll("[^A-Za-z0-9]", "_").toUpperCase

  private val JdbcUrl = "jdbc:derby:memory:graftdb;create=true"

  def configText(sfDir: String): String = {
    val d = derivedDir(sfDir)
    val parquetEntries = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "documents")
      .map(t =>
        s"""{"type":"parquet","options":{},"source":"$sfDir/$t.parquet","entity":"${t.capitalize}"}""")
    val orgEntry =
      s"""{"type":"parquet","options":{},"source":"$d/org_parquet","entity":"Org"}"""
    val csvEntries = Seq(
      s"""{"type":"csv","options":{"header":"true","inferSchema":"true"},"source":"$d/nation_csv","entity":"NationAllCsv"}""",
      s"""{"type":"csv","options":{"header":"true"},"source":"$d/part_shifted_csv","entity":"PartShifted"}""",
      s"""{"type":"json","options":{},"source":"$d/nation_json","entity":"NationJson"}""",
      s"""{"type":"orc","options":{},"source":"$d/nation_orc","entity":"NationOrc"}""")
    val rdfEntry =
      s"""{"type":"rdf","options":{"class":"${NS}Nation"},"source":"$d/nation_nt","entity":"NationNt"}"""
    val jdbcEntry =
      s"""{"type":"jdbc","options":{"url":"$JdbcUrl","dbtable":"${jdbcTable(sfDir)}",
         |"driver":"org.apache.derby.jdbc.EmbeddedDriver"},
         |"source":"//NationJdbc","entity":"NationJdbc"}""".stripMargin.replace("\n", "")
    val weights = """[{"datasource":"parquet","weight":2},{"datasource":"csv","weight":1},{"datasource":"jdbc","weight":4}]"""
    s"""{"sources":[${(parquetEntries ++ csvEntries :+ orgEntry :+ rdfEntry :+ jdbcEntry).mkString(",")}],"weights":$weights}"""
  }

  /** The directories [[ensureDerived]] writes under `derivedDir(sfDir)`. */
  private val derivedSources =
    Seq("nation_csv", "nation_json", "nation_orc", "part_shifted_csv", "org_parquet", "nation_nt")
  private val derivedFor = scala.collection.mutable.Set.empty[String]

  /** Generate the derived CSV/NT sources (idempotent: SaveMode.Ignore),
    * once per JVM and sf: a later call only checks that every derived
    * directory still exists, and regenerates when one is missing. */
  def ensureDerived(spark: SparkSession, sfDir: String): Unit = synchronized {
    val d = derivedDir(sfDir)
    if (!derivedFor(sfDir) || !derivedSources.forall(s => new java.io.File(s"$d/$s").exists())) {
      writeDerived(spark, sfDir)
      derivedFor += sfDir
    }
  }

  private def writeDerived(spark: SparkSession, sfDir: String): Unit = {
    val d = derivedDir(sfDir)
    spark.read.parquet(s"$sfDir/nation.parquet")
      .coalesce(1).write.mode(SaveMode.Ignore).option("header", "true")
      .csv(s"$d/nation_csv")
    spark.read.parquet(s"$sfDir/nation.parquet")
      .coalesce(1).write.mode(SaveMode.Ignore).json(s"$d/nation_json")
    spark.read.parquet(s"$sfDir/nation.parquet")
      .coalesce(1).write.mode(SaveMode.Ignore).orc(s"$d/nation_orc")
    spark.read.parquet(s"$sfDir/part.parquet")
      .select((col("p_partkey") + lit(1000000L)).cast("string").as("p_partkey_s"),
        col("p_name"))
      .coalesce(1).write.mode(SaveMode.Ignore).option("header", "true")
      .csv(s"$d/part_shifted_csv")
    // management chain derived from customer: employee k reports to k/2 —
    // a binary-tree hierarchy of depth log₂(n) for the p+/p* path gates
    // (oracle re-derives the same edge with DuckDB's // integer division)
    spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey").as("o_empkey"),
        when(col("c_custkey") >= 2, floor(col("c_custkey") / 2)).as("o_mgrkey"),
        col("c_name").as("o_name"))
      .coalesce(1).write.mode(SaveMode.Ignore).parquet(s"$d/org_parquet")
    ntFixture(spark, sfDir)
  }

  /** Deterministic N-Triples file derived from the nation table. */
  def ntFixture(spark: SparkSession, sfDir: String): String = {
    val dir = s"${derivedDir(sfDir)}/nation_nt"
    spark.read.parquet(s"$sfDir/nation.parquet")
      .select(concat(
        lit("<http://graft.io/nation/"), col("n_nationkey"), lit("> "),
        lit("<http://www.w3.org/1999/02/22-rdf-syntax-ns#type> "),
        lit("<http://graft.io/schema/Nation> ."), lit("\n"),
        lit("<http://graft.io/nation/"), col("n_nationkey"), lit("> "),
        lit("<http://graft.io/schema/name> \""), col("n_name"), lit("\" ."), lit("\n"),
        lit("<http://graft.io/nation/"), col("n_nationkey"), lit("> "),
        lit("<http://graft.io/schema/regionkey> \""), col("n_regionkey"),
        lit("\"^^<http://www.w3.org/2001/XMLSchema#integer> ."))
        .as("value"))
      .coalesce(1).write.mode(SaveMode.Ignore).text(dir)
    dir
  }

  private val jdbcLoaded = scala.collection.concurrent.TrieMap.empty[String, Boolean]

  /** Load the nation table into an in-memory Derby DB (once per JVM+sf) so
    * the JDBC source path is exercised end-to-end against a real database. */
  def ensureJdbc(spark: SparkSession, sfDir: String): Unit =
    jdbcLoaded.getOrElseUpdate(sfDir, {
      spark.read.parquet(s"$sfDir/nation.parquet")
        .write.format("jdbc")
        .option("url", JdbcUrl)
        .option("dbtable", jdbcTable(sfDir))
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .mode(SaveMode.Overwrite)
        .save()
      true
    })

  /** Everything the lake's mappings read beyond `sfDir` itself: the
    * derived sources and, when `jdbc`, the Derby table. Both are memoised
    * per JVM and sf, so the gates call this on every run while Bench
    * calls it once per directory, before that directory's timed sweep. */
  def provision(spark: SparkSession, sfDir: String, jdbc: Boolean): Unit = {
    ensureDerived(spark, sfDir)
    if (jdbc) ensureJdbc(spark, sfDir)
  }

  private val cache = scala.collection.concurrent.TrieMap.empty[String, (MappingsDoc, LakeConfig)]

  def lake(sfDir: String): (MappingsDoc, LakeConfig) =
    cache.getOrElseUpdate(sfDir,
      (RmlParser.parse(mappingsText(sfDir)), ConfigParser.parse(configText(sfDir))))

  /** Run a SPARQL query against the lake for `sfDir`. */
  def run(spark: SparkSession, sfDir: String, sparql: String): DataFrame = {
    GraftSession.requireNanosAsLong(spark)
    provision(spark, sfDir, jdbc = sparql.contains("jdbc"))
    val (m, c) = lake(sfDir)
    GraftEngine.executeParsed(spark, SparqlParser.parse(sparql), m, c)
  }
}
