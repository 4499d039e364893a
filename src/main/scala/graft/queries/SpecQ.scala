package graft.queries

import org.apache.spark.sql.functions._
import graft.exec.{ContextLogger, JobRunner}
import graft.spec.Yaml
import QueryDSL._

/** Spec-layer end-to-end: a YAML job manifest — placeholder chaining, env
  * propagation, fail-fast validation, sequential spark-op execution — whose final
  * output is oracle-checked like any other query (SURVEY.md §2a R1-R11 as one t2
  * entry). */
object SpecQ {

  val queries: Seq[Q] = Seq(
    Q("job_yaml_pipeline",
      (s, dir) => {
        val data = s"${Sinks.scratchDir}/job_yaml_pipeline"
        // the reference never creates the data dir (job.py:211-214 aborts on
        // a missing one) — the user pre-creates it, as this query does here
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(data))
        val manifest =
          s"""name: oracle-pipeline
             |description: read -> filter -> aggregate via job spec
             |data: $data
             |env:
             |  min-qty: 30.0
             |commands:
             |  - name: load
             |    task: read-parquet
             |    env:
             |      path: $dir/lineitem.parquet
             |      output: li_raw
             |  - name: narrow
             |    task: filter
             |    env:
             |      input: $${previous.env.OUTPUT}
             |      predicate: l_quantity >= $${job.env.MIN_QTY}
             |      output: li_f
             |  - name: summarize
             |    task: sql
             |    env:
             |      query: >-
             |        SELECT l_returnflag, COUNT(*) AS n,
             |        CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS total
             |        FROM li_f GROUP BY l_returnflag
             |      output: summary
             |  - name: save
             |    task: write-parquet
             |    env:
             |      input: $${summarize.env.OUTPUT}
             |      path: $${job.data}/out
             |""".stripMargin
        new JobRunner(s, new ContextLogger(_ => ())).execute(Yaml.jobFromString(manifest))
        s.read.parquet(s"$data/out").orderBy(col("l_returnflag"))
      },
      Some(s"""SELECT l_returnflag, COUNT(*) AS n, ${sqlDsum("l_extendedprice")} AS total
              |FROM lineitem WHERE l_quantity >= 30.0
              |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))
  )
}
