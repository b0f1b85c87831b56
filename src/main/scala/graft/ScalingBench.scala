package graft

import graft.bench.Baseline
import graft.corpus.Corpus
import graft.encode.TableCodec

/** N-vs-4N scaling + blosc2-baseline evidence for BENCH/BASELINE.md
  * (the sandbox stand-in for two cluster sizes, per the north rule: run
  * the same job at two parallelism levels on identical input and report
  * throughput at both plus the scaling efficiency).
  *
  * Each measurement runs in its OWN JVM (sbt runMain forks) so heap and
  * GC state cannot bleed between parallelism levels:
  *
  *   runMain graft.ScalingBench level <nRows> <cpus> <partitions>
  *   runMain graft.ScalingBench dup <nRows> <partitions>
  *   runMain graft.ScalingBench baseline <nRows> <partitions>
  *
  * `partitions` is held constant across levels so both process the
  * identical chunking — only the parallelism differs. Optional env
  * SPARK_GRAFT_MASTER=local-cluster[{N},1,3072] (+SPARK_HOME,
  * +SPARK_SCALA_VERSION) swaps thread-parallelism for real executor
  * JVMs.
  */
object ScalingBench {

  def main(args: Array[String]): Unit = args.toList match {
    case "level" :: nRows :: cpus :: parts :: Nil =>
      val spark = Bench.session(cpus)
      val r = Bench.corpusBench(spark, nRows.toLong, parts.toInt)
      val gb = r("corpus_gb")
      println(f"""{"level":{"cpus":$cpus,"nRows":$nRows,"gb":$gb%.3f,""" +
        f""""encodeGBps":${r("encode_gbps")}%.4f,"decodeGBps":${r("decode_gbps")}%.4f,""" +
        f""""encodeSec":${r("encode_sec")}%.2f,"decodeSec":${r("decode_sec")}%.2f,"ratio":${r("ratio")}%.3f}}""")
      spark.stop()

    // engine-vs-baseline on the 25%-vendored-dup corpus (the LDM regime)
    case "dup" :: nRows :: parts :: Nil =>
      val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      spark.conf.set("spark.sql.files.maxPartitionBytes", (32L * 1024 * 1024).toString)
      spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "512")
      val r = Bench.dupCorpusBench(spark, nRows.toLong, parts.toInt)
      println(r.toSeq.sortBy(_._1).map { case (k, v) => f""""$k":$v%.4f""" }
        .mkString("{", ",", "}"))
      spark.stop()

    case "baseline" :: nRows :: parts :: Nil =>
      val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      val corpus = Corpus.generate(spark, nRows.toLong, parts.toInt).toDF().cache()
      corpus.count()
      val base = Baseline.measure(corpus)
      val blocks = TableCodec.encode(corpus).cache()
      val ours = blocks.flatMap(b => b.cols.map(c => (c.name, c.nBytes, c.cBytes)))(
          org.apache.spark.sql.Encoders.product[(String, Long, Long)])
        .toDF("col", "n", "c").groupBy("col").sum("n", "c").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      println("| column | raw bytes | blosc2-default bytes | graft bytes | graft vs blosc2 |")
      println("|---|---|---|---|---|")
      ours.keys.toSeq.sorted.foreach { c =>
        val (n, ourC) = ours(c)
        val baseC = base(c)._2
        println(f"| $c | $n | $baseC | $ourC | ${baseC.toDouble / ourC}%.2fx |")
      }
      val totalOur = ours.values.map(_._2).sum
      val totalBase = base.values.map(_._2).sum
      val totalN = ours.values.map(_._1).sum
      println(f"| TOTAL | $totalN | $totalBase | $totalOur | ${totalBase.toDouble / totalOur}%.2fx |")
      println(f"""{"baseline":{"nRows":$nRows,"rawBytes":$totalN,"blosc2Bytes":$totalBase,"graftBytes":$totalOur,"sizeRatio":${totalBase.toDouble / totalOur}%.4f}}""")
      blocks.unpersist(); corpus.unpersist(); spark.stop()

    case other =>
      System.err.println(s"usage: level <nRows> <cpus> <partitions> | dup <nRows> <partitions> | baseline <nRows> <partitions>; got $other")
      sys.exit(2)
  }
}
