package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The generator is the benchmark's input contract: a seed fixes every
 * byte of the change files and snapshot tables, and another seed changes
 * them. */
class GenSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]").appName("perfbench-test")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  private val shape = Shape("towns", 4000, 8, 0, 8, 300, 5, 0.3)
  private val root = Paths.get("target", "gen-spec").toAbsolutePath

  /** Write the snapshot tables and three sequences for `seed` under `dir`;
   * return every written file's bytes by relative path (Spark's part-file
   * names carry a random id, so parquet parts are keyed by table). */
  private def generate(seed: Long, dir: Path): Map[String, Seq[Byte]] = {
    val w = new World(seed, shape)
    Updates.writeInputs(spark, w, dir.resolve("tables"))
    (1 to 3).foreach(s => w.nextSequence(s, dir.resolve(s"osc/$s.osc")))
    val files = Files.walk(dir).iterator.asScala.filter(Files.isRegularFile(_))
      .filter(p => p.toString.endsWith(".osc") || p.getFileName.toString.startsWith("part-")).toSeq
    files.map { p =>
      val rel = dir.relativize(p).toString
      val key = if (rel.contains("part-")) rel.substring(0, rel.indexOf("part-")) + "part" else rel
      key -> Files.readAllBytes(p).toSeq
    }.toMap
  }

  test("the same seed gives byte-identical change files and snapshot tables") {
    val a = generate(7, root.resolve("a"))
    val b = generate(7, root.resolve("b"))
    assert(a.keySet == Set("osc/1.osc", "osc/2.osc", "osc/3.osc", "tables/node_geoms/part",
      "tables/way_members/part", "tables/rel_members/part"))
    a.keys.foreach(k => assert(a(k) == b(k), k))
  }

  test("a different seed gives different change files and snapshot tables") {
    val a = generate(7, root.resolve("c"))
    val b = generate(8, root.resolve("d"))
    a.keys.foreach(k => assert(a(k) != b(k), k))
  }

  test("query inputs depend on the seed only") {
    val nodes = Array((0.0, 51.5), (10.0, 10.0))
    assert(QueryInputs.polys(3, 50).map(_.wkt).toSeq == QueryInputs.polys(3, 50).map(_.wkt).toSeq)
    assert(QueryInputs.polys(3, 50).map(_.wkt).toSeq != QueryInputs.polys(4, 50).map(_.wkt).toSeq)
    assert(QueryInputs.queries(3, 100, nodes).toSeq == QueryInputs.queries(3, 100, nodes).toSeq)
    assert(QueryInputs.queries(3, 100, nodes).toSeq != QueryInputs.queries(4, 100, nodes).toSeq)
  }

  test("a sequence mixes node, way and relation records as specified") {
    val w = new World(11, Shape("towns", 20000, 8, 0, 8, 2000, 20, 0.3))
    val osc = root.resolve("mix/1.osc")
    val e = w.nextSequence(1, osc)
    val text = new String(Files.readAllBytes(osc), "UTF-8")
    def count(tag: String) = s"<$tag ".r.findAllMatchIn(text).size
    val total = count("node") + count("way") + count("relation")
    assert(total == e.records)
    assert(count("node").toDouble / total > 0.8)
    assert(count("way").toDouble / total > 0.08)
    assert(count("relation") > 0)
    assert(e.compacted < e.records, "some objects are edited twice")
    assert(e.dirty.rows > 0)
  }
}
