// graft.Bench's all_hot_wideseg_fallback section body, timed alone: the
// bench's wide-segment index (the synthesized bench corpus, seed 42, its
// docs with doc_id < 2^17, at IndexConfig(segShift = 23, rangeSegsShift = 1);
// a doc's content depends only on its id and the seed, so the corpus is
// synthesized at 2^17 docs directly) and the section's query,
// wideEngine.searchByTerms(allHot, rows = 60).count(). One warm call, then
// GRAFT_DRAWS timed calls; prints one line of draws (s). Run from a
// checkout whose jar is built (`sbt package`), alternating checkouts:
//   GRAFT_IDX=/tmp/wide-bench-idx GRAFT_DRAWS=5 spark-shell --master local[4] \
//     --driver-memory 4g --conf spark.sql.shuffle.partitions=16 --conf spark.ui.enabled=false \
//     --jars target/scala-2.13/liresolrspark_2.13-0.1.0.jar -I plans/pr11/wideseg_section.scala
// The index is built on the first run and reused by later ones.
import graft.corpus.Corpus
import graft.index.{IndexBuild, IndexConfig}
import graft.query.{Engine, Index}

val idxDir = sys.env("GRAFT_IDX")
val draws = sys.env.getOrElse("GRAFT_DRAWS", "5").toInt
IndexBuild.build(spark, Corpus.synthesize(spark, 1L << 17, seed = 42L, partitions = 16), idxDir, IndexConfig(segShift = 23, rangeSegsShift = 1))
val wideEngine = new Engine(new Index(spark, idxDir))
val allHot = Seq("w:license" -> 1.0, "w:copyright" -> 1.0, "w:version" -> 1.0)
val n = wideEngine.searchByTerms(allHot, rows = 60).count() // warm
val times = {
  (1 to draws).map { _ =>
    val t0 = System.nanoTime(); wideEngine.searchByTerms(allHot, rows = 60).count(); (System.nanoTime() - t0) / 1e9
  }
}
println(f"WIDESEG rows=$n draws_s=${times.map(t => f"$t%.3f").mkString(",")} min=${times.min}%.3f median=${times.sorted.apply(draws / 2)}%.3f")
System.exit(0)
