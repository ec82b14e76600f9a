package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column↔Expression conversion (Spark 4.x moved
  * Column onto ColumnNode; `classic.ExpressionUtils` is the supported
  * internal shim), plus the internal RDD, plan and parquet-writer entry
  * points the engine uses. Lives in the `org.apache.spark.sql` package
  * purely for access.
  */
object GraftSqlBridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Lineage-truncating cheap checkpoint: re-roots `df` as a LogicalRDD over
    * its own execution RDD WITHOUT running a job. When the plan reads only
    * cached/persisted parents this gives localCheckpoint's flat-plan benefit
    * (no quadratic analyzer cost on delta unions) at zero job cost.
    */
  def rerootOnRdd(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    spark.internalCreateDataFrame(df.queryExecution.toRdd, df.schema)
  }

  /** `df`'s execution RDD with an InternalRow-level mapPartitions applied,
    * re-rooted as a DataFrame of `schema` — lets engine code thread
    * per-partition imperative logic (sequence stamping, side-effect
    * statistics) through a plan WITHOUT the InternalRow→Row→InternalRow
    * round-trip that `Dataset.rdd` + `createDataFrame` costs (two object
    * allocations and a UTF8String re-encode per row — the round-3 verdict's
    * `links_tordd` hotspot).
    */
  def mapInternal(df: DataFrame, schema: types.StructType)(
      f: (Int, Iterator[catalyst.InternalRow]) => Iterator[catalyst.InternalRow]): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd.mapPartitionsWithIndex(f), schema)
  }

  /** The execution RDD itself (InternalRows, possibly reused per-row by the
    * producing operator — consume immediately or copy).
    */
  def internalRdd(df: DataFrame): org.apache.spark.rdd.RDD[catalyst.InternalRow] =
    df.queryExecution.toRdd

  def internalCreateDataFrame(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[catalyst.InternalRow],
      schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** Write `df` as a parquet table directory at `dir`, replacing any
    * previous one. When `df` is a driver-resident local relation (a Dataset
    * built from a driver collection, projections folded in) its rows are
    * written as ONE file on the calling thread through Spark's own parquet
    * writer — same session settings, `options` and footer metadata as a
    * DataFrame write, but no job and no commit protocol. Any other plan is
    * an ordinary DataFrame write (one job).
    */
  def writeParquet(df: DataFrame, dir: String, options: Map[String, String] = Map.empty): Unit =
    df.queryExecution.optimizedPlan match {
      case l: catalyst.plans.logical.LocalRelation =>
        val s = df.sparkSession.asInstanceOf[classic.SparkSession]
        val job = org.apache.hadoop.mapreduce.Job.getInstance(
          s.sessionState.newHadoopConfWithOptions(options))
        val out = new org.apache.hadoop.fs.Path(dir)
        val fs = out.getFileSystem(job.getConfiguration)
        fs.delete(out, true)
        fs.mkdirs(out)
        val dataSchema = df.schema.asNullable // as every file-source write stores it
        val factory = execution.datasources.parquet.ParquetUtils.prepareWrite(
          s.sessionState.conf, job, dataSchema,
          new execution.datasources.parquet.ParquetOptions(options, s.sessionState.conf))
        val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
          job.getConfiguration, new org.apache.hadoop.mapreduce.TaskAttemptID())
        val w = factory.newInstance(new org.apache.hadoop.fs.Path(out, "part-00000.parquet").toString,
          dataSchema, ctx)
        try l.data.foreach(w.write) finally w.close()
      case _ => df.write.options(options).mode("overwrite").parquet(dir)
    }
}
