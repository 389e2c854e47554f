package graft

import graft.changelog.Generator
import graft.operators.MergeApplier
import graft.streaming.CdcStream
import graft.table.LakeTable
import org.apache.spark.sql.SparkSession

/** spark-submit entry point — mirrors the reference's workflow mode switch
  * (/root/reference assets/incremental-updates/lambda/etl-start.py:74-88:
  * cold-start | incremental-updates) plus local utilities.
  *
  * Usage:
  * {{{
  *   graft.Cli gen        <dir> <nEvents> <nConvs> <turns> <nFiles> [seed] [evolveAt]
  *   graft.Cli cold-start <changelogDir> <tableDir> [numBuckets]
  *   graft.Cli tail       <changelogDir> <tableDir> <checkpointDir> [maxFilesPerTrigger] [cow|mor] [autoCompactEvery]
  *   graft.Cli compact    <tableDir> <watermark 'yyyy-MM-dd HH:mm:ss'>
  *   graft.Cli vacuum     <tableDir> [keepLast] [graceMs]
  *   graft.Cli show       <tableDir>
  *   graft.Cli history    <tableDir>
  *   graft.Cli feed       <tableDir> <fromVersion> [toVersion]
  *   graft.Cli rollback   <tableDir> <toVersion>
  *   graft.Cli lookup     <tableDir> <convId> <turnIdx>
  *   graft.Cli replicate  <srcTableDir> <dstTableDir> <checkpointDir> [maxVersionsPerTrigger] [cow|mor]
  *   graft.Cli rebucket   <tableDir> <newNumBuckets>
  *   graft.Cli sql        <tablesBaseDir> <query>   # tables addressed as lake.<name>
  * }}}
  */
object Cli {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session("graft-cli", master = sys.env.get("SPARK_GRAFT_MASTER"))
    try run(spark, args.toList)
    catch {
      case e: IllegalArgumentException =>
        System.err.println(e.getMessage); spark.stop(); sys.exit(2)
    }
    finally spark.stop()
  }

  // package-private so CliSpec can drive the command surface with the test
  // session (main owns its session lifecycle and would stop a shared one)
  private[graft] def run(spark: SparkSession, args: List[String]): Unit = args match {
    case "gen" :: dir :: n :: convs :: turns :: files :: rest =>
      val seed = rest.headOption.map(_.toLong).getOrElse(42L)
      val evolveAt = rest.drop(1).headOption.map(_.toLong).getOrElse(-1L)
      Generator.writeChangelog(spark, dir, n.toLong, convs.toInt, turns.toInt,
        files.toInt, seed, evolveAt)
      println(s"""{"gen":"$dir","events":$n,"files":$files}""")

    case "cold-start" :: src :: tableDir :: rest =>
      val buckets = rest.headOption.map(_.toInt).getOrElse(32)
      val table = new LakeTable(tableDir, buckets)
      val changelog = spark.read
        .schema(graft.model.Model.changeEventSchema).parquet(src)
      val t0 = System.nanoTime()
      val r = MergeApplier.replayFull(spark, table, changelog)
      val sec = (System.nanoTime() - t0) / 1e9
      val inputEvents = changelog.count() // parquet footer metadata, cheap
      println(f"""{"mode":"cold-start","inputEvents":$inputEvents,"tableRows":${r.batchRows},"buckets":${r.touchedBuckets},"sec":$sec%.3f,"eventsPerSec":${(inputEvents / sec).toLong}}""")

    case "tail" :: src :: tableDir :: ckpt :: rest =>
      val mft = rest.headOption.map(_.toInt).getOrElse(4)
      val mode = rest.lift(1).getOrElse("cow")
      val autoCompact = rest.lift(2).map(_.toInt).getOrElse(0)
      // open with the SNAPSHOT's bucket count: a hardcoded count would
      // silently rebucket an existing table (physical-identity violation)
      val table = LakeTable.open(tableDir)
      val t0 = System.nanoTime()
      CdcStream.runAvailableNow(spark, src, table, ckpt, maxFilesPerTrigger = mft,
        mode = mode, autoCompactEvery = autoCompact)
      val sec = (System.nanoTime() - t0) / 1e9
      val s = table.currentSnapshot()
      println(f"""{"mode":"tail","version":${s.map(_.version).getOrElse(0L)},"tableRows":${s.map(_.totalRows).getOrElse(0L)},"sec":$sec%.3f}""")

    case "vacuum" :: tableDir :: rest =>
      val keep = rest.headOption.map(_.toInt).getOrElse(1)
      // optional grace-window override (ms); default 1 h spares files that
      // may belong to an in-flight commit of a live writer
      val graceMs = rest.lift(1).map(_.toLong).getOrElse(3600000L)
      val deleted = LakeTable.open(tableDir).vacuum(keep, graceMs)
      println(s"""{"mode":"vacuum","deletedFiles":$deleted,"keptSnapshots":$keep,"graceMs":$graceMs}""")

    case "compact" :: tableDir :: wm :: Nil =>
      val table = LakeTable.open(tableDir)
      // accept ISO 'T' form — sbt runMain splits on spaces
      val kept = MergeApplier.compact(spark, table,
        java.sql.Timestamp.valueOf(wm.replace('T', ' ')))
      println(s"""{"mode":"compact","keptRows":$kept}""")

    case "show" :: tableDir :: Nil =>
      val table = LakeTable.open(tableDir)
      table.currentSnapshot() match {
        case None => println("""{"error":"no snapshot"}""")
        case Some(s) =>
          val files = table.resolveFiles(s)
          println(s"""{"version":${s.version},"rows":${s.totalRows},"buckets":${files.size},"files":${files.valuesIterator.map(_.size).sum},"manifests":${s.manifests.size},"committed":${s.committed.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")},"metrics":${s.metrics.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")}}""")
          table.read(spark).show(5, truncate = false)
      }

    case "history" :: tableDir :: Nil =>
      LakeTable.open(tableDir).history(spark)
        .orderBy("version").show(50, truncate = false)

    case "feed" :: tableDir :: from :: rest =>
      val table = LakeTable.open(tableDir)
      val to = rest.headOption.map(_.toLong)
        .orElse(table.currentSnapshot().map(_.version)).getOrElse(0L)
      val feed = graft.operators.ChangeFeed
        .changesBetween(spark, table, from.toLong, to)
      import org.apache.spark.sql.functions.count
      val byType = feed.groupBy(graft.operators.ChangeFeed.ChangeTypeCol)
        .agg(count(org.apache.spark.sql.functions.lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      println(s"""{"mode":"feed","fromVersion":$from,"toVersion":$to,"inserts":${byType.getOrElse("insert", 0L)},"updates":${byType.getOrElse("update", 0L)},"deletes":${byType.getOrElse("delete", 0L)}}""")

    case "rollback" :: tableDir :: to :: Nil =>
      val s = LakeTable.open(tableDir).rollback(to.toLong)
      println(s"""{"mode":"rollback","version":${s.version},"rolledBackTo":${s.metrics("rollbackTo")},"rows":${s.totalRows}}""")

    case "tag" :: tableDir :: name :: rest =>
      val t = LakeTable.open(tableDir)
      val v = rest.headOption.map(_.toLong)
        .orElse(t.currentSnapshot().map(_.version))
        .getOrElse(throw new IllegalStateException("empty table cannot be tagged"))
      t.tag(name, v)
      println(s"""{"mode":"tag","name":"$name","version":$v}""")

    case "tags" :: tableDir :: Nil =>
      val t = LakeTable.open(tableDir)
      val body = t.tags().toSeq.sortBy(_._1)
        .map { case (n, v) => s""""$n":$v""" }.mkString(",")
      val staged = t.stagedRefs().map(n => s""""$n"""").mkString(",")
      println(s"""{"mode":"tags","tags":{$body},"staged":[$staged]}""")

    case "drop-tag" :: tableDir :: name :: Nil =>
      LakeTable.open(tableDir).dropTag(name)
      println(s"""{"mode":"drop-tag","name":"$name"}""")

    case "publish" :: tableDir :: name :: Nil =>
      val s = LakeTable.open(tableDir).publishStaged(name)
      println(s"""{"mode":"publish","name":"$name","version":${s.version},"rows":${s.totalRows}}""")

    case "drop-staged" :: tableDir :: name :: Nil =>
      LakeTable.open(tableDir).dropStaged(name)
      println(s"""{"mode":"drop-staged","name":"$name"}""")

    case "lookup" :: tableDir :: convId :: turnIdx :: Nil =>
      val rows = LakeTable.open(tableDir)
        .lookupTurn(spark, convId, turnIdx.toInt).collect()
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val turn = rows.headOption.map(r =>
        s""","text":${mapper.writeValueAsString(r.getAs[String]("text"))},"ts":"${r.getAs[java.sql.Timestamp]("ts")}","seq":${r.getAs[Long]("seq")}""").getOrElse("")
      // conv_id is user input — escape it like text, or quotes break the JSON
      println(s"""{"mode":"lookup","conv_id":${mapper.writeValueAsString(convId)},"turn_idx":$turnIdx,"found":${rows.nonEmpty}$turn}""")

    case "conv" :: tableDir :: convId :: rest =>
      val bound = rest.headOption.map(_.toInt).getOrElse(4096)
      val rows = LakeTable.open(tableDir)
        .lookupConversation(spark, convId, bound)
        .orderBy("turn_idx").collect()
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val turns = rows.map(r =>
        s"""{"turn_idx":${r.getAs[Int]("turn_idx")},"role":${mapper.writeValueAsString(r.getAs[String]("role"))},"text":${mapper.writeValueAsString(r.getAs[String]("text"))},"seq":${r.getAs[Long]("seq")}}""")
        .mkString("[", ",", "]")
      println(s"""{"mode":"conv","conv_id":${mapper.writeValueAsString(convId)},"turns":${rows.length},"rows":$turns}""")

    case "refresh-stats" :: baseDir :: viewDir :: rest =>
      val base = LakeTable.open(baseDir)
      val view = LakeTable.open(viewDir)
      // resume from the base version the view last reflected: its writer
      // ledger records it (batchId = base version), so no side state file
      val from = view.currentSnapshot().map(_.maxBatchId("statsview")).filter(_ >= 0)
        .orElse(rest.headOption.map(_.toLong)).getOrElse(0L)
      val to = graft.operators.IncrementalAgg.refreshIntoTable(spark, base, view, from)
      val s = view.currentSnapshot()
      println(s"""{"mode":"refresh-stats","fromVersion":$from,"toVersion":$to,"viewRows":${s.map(_.totalRows).getOrElse(0L)},"viewVersion":${s.map(_.version).getOrElse(0L)}}""")

    case "replicate" :: srcDir :: dstDir :: ckpt :: rest =>
      // exactly-once table→table replication: tail src's change data feed
      // (DSv2 lake-cdf streaming source) into dst and stop when caught up;
      // re-run with the same checkpoint to catch up again (the replica's
      // identity is the checkpoint × its writer ledger)
      val mvpt = rest.headOption.map(_.toLong).getOrElse(16L)
      val mode = rest.lift(1).getOrElse("cow")
      val dst = LakeTable.open(dstDir)
      val t0 = System.nanoTime()
      graft.streaming.Replicate.runAvailableNow(spark, srcDir, dst, ckpt,
        maxVersionsPerTrigger = mvpt, mode = mode)
      val sec = (System.nanoTime() - t0) / 1e9
      val s = dst.currentSnapshot()
      println(f"""{"mode":"replicate","replicaVersion":${s.map(_.version).getOrElse(0L)},"replicaRows":${s.map(_.totalRows).getOrElse(0L)},"sec":$sec%.3f}""")

    case "rebucket" :: tableDir :: n :: Nil =>
      val table = LakeTable.open(tableDir)
      val resized = MergeApplier.rebucket(spark, table, n.toInt)
      val s = resized.currentSnapshot().get
      println(s"""{"mode":"rebucket","version":${s.version},"numBuckets":${s.numBuckets},"rows":${s.totalRows}}""")

    case "sql" :: base :: query :: Nil =>
      // ad-hoc SQL over a directory of lake tables: register the catalog
      // (storage-partitioned joins and all) and print JSON-lines rows
      spark.conf.set("spark.sql.catalog.lake", classOf[graft.table.LakeCatalog].getName)
      spark.conf.set("spark.sql.catalog.lake.base", base)
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.sql(query).toJSON.collect().foreach(println)

    case other =>
      // throw, don't sys.exit: run is also test-invoked, and an exit here
      // would kill the forked test JVM; main maps this to exit code 2
      throw new IllegalArgumentException(
        s"unknown command: $other — see Scaladoc for usage")
  }
}
