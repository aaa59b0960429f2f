package graft

import java.time.LocalDate
import graft.io.{Config, Connections}
import graft.jobs._
import graft.meta.{DefaultsStore, StatusTracker}
import graft.meta.Status.Schedule

/** CLI — reference `bin/etl` (O11: `list-jobs`, `list-connections`,
  * `run <job> [arg]`, `run-scheduled`, `list-schedule`; flags `-d/--debug`,
  * `-F/--force`, `-c/--config <yaml>` loading connections + schedules like
  * the reference's config.yml at `bin/etl:69`). Jobs come from [[CliEnv]]
  * (the compile-time registry replacing the reference's bundle search path,
  * SURVEY.md §7.4.6).
  */
object Cli {

  /** Deployment wiring point: register jobs/connections/schedules here (the
    * analog of the reference's config.yml + job search path).
    */
  object CliEnv {
    val tracker   = new StatusTracker
    val batches   = new BatchTracker
    val defaults  = new DefaultsStore
    val registry  = new JobRegistry
    var schedules: Seq[Schedule] = Nil

    // Built-in smoke job (the reference shipped test.etl as its sample):
    // proves the run path end-to-end with no deployment wiring.
    registry.register(new EtlJob {
      val name = "sample_noop"
      def run(ctx: JobContext): Unit = {
        ctx.setPhase("working")
        val n = ctx.spark.range(1000).count()
        require(n == 1000)
      }
    })

    // The capstone corpus-curation dataflow as a first-class job:
    // `run corpus_pipeline <sfDir>` — batch audit row, per-stage phases,
    // disposition parquet identical to the pipeline_end_to_end oracle.
    registry.register(new CorpusPipelineJob(batches))
  }

  /** Args minus the value-carrying `-c <path>` pair: (config?, rest). */
  private[graft] def extractConfigArg(args: Array[String]): (Option[String], Array[String]) = {
    val i = args.indexWhere(a => a == "-c" || a == "--config")
    if (i < 0 || i + 1 >= args.length) (None, args)
    else (Some(args(i + 1)), args.patch(i, Nil, 2))
  }

  def main(args: Array[String]): Unit = {
    val (configPath, rest) = extractConfigArg(args)
    val flags = rest.filter(_.startsWith("-")).toSet
    val cmd   = rest.filterNot(_.startsWith("-")).toList
    val debug = flags("-d") || flags("--debug")
    val force = flags("-F") || flags("--force")

    configPath.foreach { p =>
      val scheds = Config.loadAppConfig(p)
      if (scheds.nonEmpty) CliEnv.schedules = scheds
    }

    lazy val spark = SparkConfigs.session(
      sys.env.getOrElse("SPARK_MASTER", "local[*]"),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    lazy val runner    = new JobRunner(spark, CliEnv.defaults, CliEnv.tracker)
    lazy val scheduler = new Scheduler(CliEnv.registry, runner)

    cmd match {
      case "list-jobs" :: Nil =>
        CliEnv.registry.names.foreach(println)
      case "list-connections" :: Nil =>
        Connections.names.foreach(n => println(s"$n -> ${Connections.get(n).get.format}"))
      case "list-schedule" :: Nil =>
        scheduler.plannedSchedules(CliEnv.schedules, LocalDate.now())
          .foreach(s => println(s"${s.runOrder}\t${s.jobName}\t${s.schedule}"))
      case "run" :: job :: rest =>
        CliEnv.registry.get(job) match {
          case Some(j) =>
            val id = runner.run(j, rest.headOption, debug)
            val st = CliEnv.tracker.all.find(_.id == id).get
            println(s"${st.jobName}: ${st.status}${st.message.map(m => s" ($m)").getOrElse("")}")
            if (st.status != "ok") sys.exit(1)
          case None =>
            System.err.println(s"unknown job: $job"); sys.exit(2)
        }
      case "run-scheduled" :: Nil =>
        val results =
          if (force) scheduler.runForcedJobs(CliEnv.schedules, debug)
          else scheduler.runScheduledJobs(CliEnv.schedules, LocalDate.now(), debug)
        results.foreach { case (name, id) =>
          println(s"$name: ${id.fold("skipped")(_ => "ran")}")
        }
      // O10: bootstrap the parquet-backed metadata store (the reference's
      // create_etl_manager_structures / `etl initialize`).
      case "initialize" :: rest =>
        val metaDir = rest.headOption
          .orElse(sys.env.get("GRAFT_META_DIR"))
          .getOrElse(sys.props("user.dir") + "/meta")
        CliEnv.defaults.save(spark, s"$metaDir/etl_defaults")
        CliEnv.tracker.save(spark, s"$metaDir/etl_job_status")
        // full create_etl_manager_structures parity: the schedules table
        // bootstraps too (empty unless -c YAML loaded some this run)
        graft.meta.Status.saveSchedules(spark, CliEnv.schedules,
          s"$metaDir/etl_schedules")
        println(s"initialized metadata store at $metaDir")
      case _ =>
        System.err.println(
          "usage: graft.Cli [-d|--debug] [-F|--force] [-c|--config <yaml>] " +
          "(list-jobs | list-connections | list-schedule | run <job> [arg] | run-scheduled)")
        sys.exit(2)
    }
  }
}
