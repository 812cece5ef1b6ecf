package graft.pipeline

import org.apache.spark.sql.SparkSession

/** The reference DAG as a driver program (reporting_dag.py:13-183 → plain
  * Scala call graph, SURVEY.md §2A O1/O17): DDL, then per entity
  * extract → stage → watermark-filter → dedup-append. The three Airflow
  * TaskGroups fan out after `ddl` (reporting_dag.py:178-180); here `run`
  * launches the three entity groups as Futures on the global execution
  * context, so their jobs run concurrently on the shared session, and
  * waits for them in entity order.
  *
  * Groups are not transactional as a set: a failing group does not stop
  * its siblings, which keep running and commit their loads. `run` rethrows
  * the first failure it reaches in entity order, possibly while a sibling
  * is still in flight.
  *
  * Extraction source: reference-shaped JSON array files (the same shape the
  * reference stages to GCS). A live REST mode would paginate the Airflow API
  * into the same staging layout; it is not required for the correctness
  * surface (SURVEY.md §7 step 6).
  */
object ReportingPipeline {

  /** Glob the entity's staged files under the fixture/extract dir. */
  private def stagedFiles(spark: SparkSession, dir: String, entity: String): Seq[String] = {
    val glob = new org.apache.hadoop.fs.Path(s"$dir/$entity*.json")
    // resolve the fs from the path's own scheme — FileSystem.get(conf)
    // returns the default FS, which silently finds nothing when staging
    // lives on a different scheme (e.g. local fixtures on an HDFS cluster)
    val fs = glob.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.globStatus(glob) match {
      case null => Seq.empty
      case st => st.map(_.getPath.toString).toSeq
    }
  }

  /** Entity name → staged file prefix (reference staging names:
    * dags.json, dagRuns{n}.json, taskInstances{n}.json). */
  private val filePrefix = Map(
    "dag" -> "dags", "dag_run" -> "dagRuns", "task_instance" -> "taskInstances")

  /** One incremental run over staged inputs. Re-running with the same inputs
    * is a no-op for PK'd entities (insert-if-absent) and duplicates
    * task_instance rows only above the watermark — matching the reference's
    * intended invariants.
    *
    * The three entity loads are independent (like the reference's parallel
    * TaskGroups fanning out after ddl, reporting_dag.py:178-180) and run as
    * concurrent jobs on the shared session — Spark's scheduler interleaves
    * their stages across executor slots. */
  def run(spark: SparkSession, fixtureDir: String): Unit = {
    Catalog.ensure(spark)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val groups = Seq("dag", "dag_run", "task_instance").map { entity =>
      Future {
        val files = stagedFiles(spark, fixtureDir, filePrefix(entity)).sorted
        if (files.nonEmpty) {
          val staged = Staging.readStaged(spark, entity, files, keepSourceFile = true)
          val table = Catalog.tableName(entity)
          val filtered = Schemas.watermarkOf(entity) match {
            case Some(wmCol) =>
              val wm = Watermark.maxWatermark(spark, table, wmCol)
              Watermark.applyWatermark(staged, wmCol, wm)
            case None => staged
          }
          // first-file-wins on intra-batch PK dups, like the reference's
          // sequential per-file COPY with insert-if-absent
          Loader.dedupAppend(spark, filtered, table, Schemas.pkOf(entity),
            preference = Seq(org.apache.spark.sql.functions.col(Staging.srcFileCol)))
        }
      }
    }
    groups.foreach(Await.result(_, Duration.Inf))
  }
}
