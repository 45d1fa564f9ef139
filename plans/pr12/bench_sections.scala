// graft.Bench's fq, facet, pivot, grouping and block-join sections, timed
// the way Bench times them (one warm pass, then min of 3 draws per
// section), on Bench's index geometry, for bench_sections_ab.md.
// Run from a checkout whose jar is built (`sbt package`):
//   GRAFT_SF=/path/to/sf0.01 GRAFT_IDX=/tmp/bench-idx spark-shell --master local[4] \
//     --driver-memory 3g --conf spark.sql.shuffle.partitions=16 --conf spark.ui.enabled=false \
//     --jars target/scala-2.13/liresolrspark_2.13-0.1.0.jar -I plans/pr12/bench_sections.scala
// The corpus is Bench's: Corpus.synthesize(max(2000, |lineitem|) files,
// seed 42) at IndexConfig(segShift = 9, rangeSegsShift = 7), built on the
// first run into GRAFT_IDX (use a fresh directory per tree: the layouts
// differ).
import graft.corpus.Corpus
import graft.index.{IndexBuild, IndexConfig}
import graft.query.{Engine, Index}

val sfDir = sys.env("GRAFT_SF")
val idxDir = sys.env("GRAFT_IDX")
val nFiles = math.max(2000L, spark.read.parquet(s"$sfDir/lineitem.parquet").count())
IndexBuild.build(spark, Corpus.synthesize(spark, nFiles, seed = 42L, partitions = 16), idxDir, IndexConfig(segShift = 9, rangeSegsShift = 7))
val engine = new Engine(new Index(spark, idxDir))
val hotRare = Seq("w:license" -> 1.0, "w:apache" -> 1.0, "w:hashimpl" -> 1.0, "w:mergefactory" -> 1.0, "w:scanptr" -> 1.0, "w:sortz" -> 1.0)
val sections = Seq[(String, () => Long)](
  "wand_filtered" -> (() => engine.searchByTerms(hotRare, rows = 60, docFilter = Some(("lang", "py"))).count()),
  "facet_lang" -> (() => engine.facet(hotRare, "lang").count()),
  "facet_filtered" -> (() => engine.facet(hotRare, "repo", docFilter = Some(("lang", "py"))).count()),
  "grouped_repo" -> (() => engine.searchGrouped(hotRare, "repo", groupLimit = 3, groups = 10).count()),
  "facet_pivot" -> (() => engine.facetPivot(hotRare, "lang", "repo").count()),
  "grouped_filtered" -> (() => engine.searchGrouped(hotRare, "repo", groupLimit = 3, groups = 10, docFilter = Some(("lang", "py"))).count()),
  "block_join" -> (() => engine.blockJoinParents(Seq("w:license" -> 1.0, "w:scanptr" -> 2.0), "max", rows = 10).count()))
sections.foreach { case (_, f) => f() } // warm pass (plans, file listings)
val best = sections.map { case (name, f) =>
  name -> (1 to 3).map { _ => val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9 }.min
}
println("SECTIONS " + best.map { case (n, s) => f"$n=$s%.3f" }.mkString(" "))
System.exit(0)
