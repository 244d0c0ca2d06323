package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Clusters, CorpusPipeline, Dedup, NearDup,
  NearDupIndex, Similarity}
import graft.sources.{QuirkCsvCatalog, QuirkCsvVersions}
import graft.superstore.{Marts, Pipeline}

/** Catalog helpers shared by the workloads: every table is an all-string
  * graftcsv catalog table (the catalog's raw-layer contract), written
  * whole and read back through a typed projection. */
abstract class CatalogWorkload(h: Harness) extends Workload(h) {
  protected val spark = h.spark

  protected def register(cat: String, root: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[QuirkCsvCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
  }

  /** Replace table `t` with `df` as one committed version. */
  protected def commit(cat: String, t: String, df: DataFrame): Unit =
    h.spans("sources.commit") {
      spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.wh.$t (" +
        df.columns.map(c => s"$c STRING").mkString(", ") + ")")
      df.select(df.columns.toSeq.map(c => col(c).cast("string").as(c)): _*)
        .writeTo(s"$cat.wh.$t").overwrite(lit(true))
    }

  protected def version(cat: String, t: String): Long =
    QuirkCsvVersions.currentVersionOf(spark, cat, s"wh.$t")

  protected def typed(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.toSeq.map(f =>
      col(f.name).try_cast(f.dataType).as(f.name)): _*)

  protected def asOf(cat: String, t: String, v: Long,
                     schema: StructType): DataFrame =
    typed(spark.sql(s"SELECT * FROM $cat.wh.$t VERSION AS OF $v"), schema)

  /** Row count and exact decimal sums of `sums` columns. */
  protected def sums(df: DataFrame, cols: Seq[String]): Map[String, Any] = {
    val aggs = count(lit(1)).as("rows") +: cols.map(c =>
      sum(col(c).cast("decimal(38,2)")).cast("string").as(s"sum_$c"))
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    (("rows" -> (r.getLong(0): Any)) +: cols.indices.map(i =>
      s"sum_${cols(i)}" -> (r.getString(i + 1): Any))).toMap
  }
}

/** superstore_elt: the nightly load followed by the dashboard's "Refresh
  * All" (SURVEY 3.3). Each pass loads the extract through the catalog
  * (raw table), stages it, commits the staging table, the geography and
  * both SCD2 dims and the fact as new table versions, reads the fact AS OF
  * the version the previous pass committed, then recomputes four of the
  * dashboard's marts (two pivots, a Region slicer, top products) from the
  * committed tables. */
final class SuperstoreElt(h: Harness) extends CatalogWorkload(h) {
  val name = "superstore_elt"
  private val cat = "elt"
  val catalogRoot: String = new java.io.File(h.root, "elt").getPath
  private val schemas = mutable.Map.empty[String, StructType]
  private var out: Pipeline.Outputs = _

  /** Pass `p`'s load time (the fact's load_ts): a minute per pass after
    * 2018-03-01 00:00:00, so every committed fact version differs and an
    * AS-OF read of the wrong version shows in its digest. */
  private def loadTs(p: Int): String =
    java.time.LocalDateTime.of(2018, 3, 1, 0, 0).plusMinutes(p + 1L)
      .format(java.time.format.DateTimeFormatter.ofPattern(
        "yyyy-MM-dd HH:mm:ss"))

  /** The fact's row count, sums and load_ts range. */
  private def factDigest(df: DataFrame): Map[String, Any] = {
    val ts = df.agg(min(col("load_ts")).cast("string"),
      max(col("load_ts")).cast("string")).collect()(0)
    sums(df, Seq("sales", "quantity")) +
      ("load_ts" -> Seq(ts.getString(0), ts.getString(1)))
  }

  def fixture(): Unit = register(cat, catalogRoot)

  private val commits: Seq[(String, String, Pipeline.Outputs => DataFrame)] =
    // staging lands Region-clustered, so the Region slicer prunes files
    Seq(("stg", "superstore.staging",
      _.deduped.repartitionByRange(h.cpus, col("region"))),
      ("dim_geography", "superstore.dims", _.dims.geography),
      ("dim_customer", "superstore.scd2", _.dims.customer),
      ("dim_product", "superstore.scd2", _.dims.product),
      ("fact_sales", "superstore.fact", _.fact))

  private def table(t: String): DataFrame =
    typed(spark.table(s"$cat.wh.$t"), schemas(t))

  private val marts: Seq[(String, () => DataFrame)] = Seq(
    "pivot_category" -> (() => Marts.pivotByCategory(table("stg"))),
    "pivot_category_west" ->
      (() => Marts.pivotByCategory(table("stg"), regions = Some(Seq("West")))),
    "pivot_order_date" -> (() => Marts.pivotByOrderDate(table("stg"))),
    "top_products" -> (() =>
      Marts.topProductsBySubCat(table("fact_sales"), table("dim_product"))))

  def pass(p: Int): Seq[Op] = {
    val load = Op("elt.load_raw", () => {
      out = h.spans("superstore.ingest") {
        Pipeline.runViaCatalog(spark, h.path("extract_0.csv"), catalogRoot,
          runTs = Some(loadTs(p)), rawLayoutFiles = h.cpus, catalogName = cat)
      }
      () => {
        val d = sums(spark.table(s"$cat.raw.superstore"), Seq("Sales"))
        h.counters("superstore.rows_in") += d("rows").asInstanceOf[Long]
        d
      }
    })
    val stage = Op("elt.staging", () => {
      h.spans("superstore.staging")(h.noop(out.deduped))
      () => sums(out.deduped, Seq("sales", "profit", "quantity"))
    })
    val commitOps = commits.map { case (t, layer, frame) =>
      Op(s"elt.commit_$t", () => {
        val df = frame(out)
        schemas.getOrElseUpdate(t, df.schema)
        h.spans(layer)(commit(cat, t, df))
        () => {
          val stored = spark.table(s"$cat.wh.$t")
          val d = if (t == "fact_sales") factDigest(stored)
            else sums(stored, Nil)
          h.counters("superstore.rows_out") += d("rows").asInstanceOf[Long]
          d
        }
      })
    }
    // the fact as it was before this pass's commit
    val asOfRead = Op("elt.asof_fact", () => {
      val v = h.spans("sources.resolve")(version(cat, "fact_sales")) - 1
      val df = asOf(cat, "fact_sales", v, schemas("fact_sales"))
      h.noop(df)
      () => factDigest(df)
    })
    val refresh = marts.map { case (n, f) =>
      Op(s"elt.mart_$n", () => {
        val df = h.spans("superstore.marts") {
          val df = f()
          h.noop(df)
          df
        }
        () => h.rows(df)
      })
    }
    Seq(load, stage) ++ commitOps ++ Seq(asOfRead) ++ refresh
  }

  override def endPass(): Unit =
    if (out != null) out.deduped.unpersist(blocking = true)
}

/** corpus_dedup: the LLM-data-pipeline user. Each pass runs batch dedup
  * through the public operators over the base corpus, then indexes one
  * arriving batch into the near-dup index (built over the base corpus in
  * set-up) and serves its candidates. Passes take the batches in turn; a
  * re-delivered batch replaces its own partition. */
final class CorpusDedup(h: Harness) extends CatalogWorkload(h) {
  val name = "corpus_dedup"
  private val cat = "corp"
  val catalogRoot: String = new java.io.File(h.root, "corp").getPath
  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("emb", ArrayType(FloatType))))
  private var docs: DataFrame = _
  private var evalDocs: DataFrame = _
  private var batches: Seq[DataFrame] = Nil
  private var jaccardPairs: DataFrame = _
  private val indexed = mutable.SortedSet.empty[Int]

  private def ids(f: String): Seq[Long] = {
    val src = scala.io.Source.fromFile(h.path(f))
    try src.getLines().filter(_.nonEmpty).map(_.trim.toLong).toList
    finally src.close()
  }
  private lazy val queries = ids("queries.txt")

  private def load(f: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(h.path(f))
      .repartition(h.cpus).localCheckpoint()

  def fixture(): Unit = {
    docs = load("docs.jsonl", docSchema)
    evalDocs = load("eval.jsonl", StructType(Seq(
      StructField("eval_id", LongType), StructField("text", StringType))))
      .select(col("eval_id").as("doc_id"), col("text"))
  }

  override def prepare(): Unit = {
    // the generator's arriving batches: batch_1.jsonl .. batch_<n>.jsonl
    val n = new java.io.File(h.input).list()
      .count(_.matches("batch_\\d+\\.jsonl"))
    batches = (1 to n).map(b => load(s"batch_$b.jsonl", docSchema))
    register(cat, catalogRoot)
    NearDupIndex.build(spark, cat, "idx", "nd", text(docs), "doc_id", "text")
  }

  private def text(df: DataFrame) = df.select("doc_id", "text")
  private def emb(df: DataFrame) = df.select("doc_id", "emb")

  private def pairs(df: DataFrame, cols: String*): Seq[Seq[String]] =
    df.select(cols.map(col): _*).collect().toSeq.map(r =>
      (0 until r.length).map(i => Harness.text(r.get(i))))

  private def noopOp(n: String, span: String, f: () => DataFrame)
                    (check: DataFrame => Any): Op =
    Op(n, () => {
      val df = h.spans(span) {
        val df = f()
        h.noop(df)
        df
      }
      () => check(df)
    })

  def pass(p: Int): Seq[Op] = {
    val b = Math.floorMod(p, batches.size) + 1
    val batch = batches(b - 1)
    def bands() = spark.table(s"$cat.idx.nd_bands").count()
    Seq(
      noopOp("corpus.exact_groups", "operators.dedup",
        () => Dedup.exactGroups(docs, "doc_id", md5(col("text")))) { df =>
        val r = df.agg(count(lit(1)), sum(col("dup_count")),
          sum(when(col("dup_count") > 1, 1).otherwise(0))).collect()(0)
        Map("groups" -> r.getLong(0), "docs" -> r.getLong(1),
          "dup_groups" -> r.getLong(2))
      },
      noopOp("corpus.lsh_candidates", "operators.neardup",
        () => NearDup.minHashLshCandidates(text(docs), "doc_id", "text")) {
        df =>
          val ps = pairs(df, "a_id", "b_id")
          h.counters("operators.lsh_candidates") += ps.size
          Map("pairs" -> ps)
      },
      noopOp("corpus.jaccard_pairs", "operators.neardup", () => {
        jaccardPairs =
          NearDup.ngramJaccardPairs(text(docs), "doc_id", "text", 3, 0.5)
        jaccardPairs
      }) {
        df =>
          jaccardPairs = df.localCheckpoint()
          val ps = pairs(jaccardPairs, "a_id", "b_id", "intersection",
            "jaccard")
          h.counters("operators.verified_pairs") += ps.size
          Map("pairs" -> ps)
      },
      noopOp("corpus.simhash", "operators.neardup",
        () => NearDup.simHash(text(docs), "doc_id", "text", 64)) { df =>
        Map("pairs" -> pairs(df, "doc_id", "simhash"))
      },
      noopOp("corpus.ivf_topk", "operators.similarity", () => {
        val cents = Similarity.ivfCentroids(emb(docs), "doc_id", "emb", 16)
        Similarity.ivfTopK(emb(docs), "doc_id", "emb",
          col("doc_id").isin(queries: _*), cents, 3, 4)
      }) { df => Map("pairs" -> pairs(df, "q_id", "n_id", "cosine", "rank")) },
      // over the pairs the jaccard op produced (materialised by its check,
      // so a checked pass times the graph step alone)
      noopOp("corpus.components", "operators.clusters", () =>
        Clusters.connectedComponents(docs.select("doc_id"), "doc_id",
          jaccardPairs, "a_id", "b_id")) { df =>
        val r = df.agg(count(lit(1)), countDistinct(col("cluster_id")))
          .collect()(0)
        Map("docs" -> r.getLong(0), "components" -> r.getLong(1))
      },
      noopOp("corpus.pipeline", "operators.corpus_pipeline", () =>
        CorpusPipeline.run(spark, text(docs), "doc_id", "text", evalDocs)
          .corpus) { df =>
        Map("ids" ->
          df.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted)
      },
      Op("index.neardup_batch", () => {
        h.spans("index.batch")(NearDupIndex.indexBatch(spark, cat, "idx",
          "nd", text(batch), "doc_id", "text", s"b$b"))
        indexed += b
        val now = indexed.toSeq
        () => Map("bands" -> bands(), "batches" -> now)
      }),
      noopOp("index.neardup_serve", "index.serve", () =>
        NearDupIndex.candidatePairsFor(spark, cat, "idx", "nd", s"b$b")) {
        df =>
          val ps = pairs(df, "a_id", "b_id")
          h.counters("index.candidates") += ps.size
          h.counters("index.probes") += batch.count()
          Map("pairs" -> ps, "batch" -> b)
      })
  }

  // CorpusPipeline caches its stage outputs; the inputs are checkpoints,
  // which clearing the cache leaves alone
  override def endPass(): Unit = spark.catalog.clearCache()
}
