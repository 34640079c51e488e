package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** Growable primitive buffers: the world holds millions of coordinates. */
final class IntBuf(cap0: Int) {
  var a = new Array[Int](math.max(cap0, 16)); var n = 0
  def +=(v: Int): Unit = { if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2); a(n) = v; n += 1 }
  def apply(i: Int): Int = a(i)
  def update(i: Int, v: Int): Unit = a(i) = v
}

/** How a workload's world and change sequences are shaped.
 *
 * `towns`: nodes come in small spatially clustered towns spread worldwide
 * (a share of them in one hot box); ways are short chains of adjacent
 * nodes, a few sharing a junction node. `grid`: one dense lattice region;
 * ways are long lattice paths, so every node sits on several ways. */
final case class Shape(
    layout: String,         // "towns" | "grid"
    nodes: Int,             // initial snapshot nodes
    wayLen: Int,            // nodes per way
    waysPerNode: Int,       // grid only: mean ways through a node
    waysPerRel: Int,        // ways grouped by one relation
    seqObjects: Int,        // change records per sequence
    changesets: Int,        // local edit clusters per sequence
    hotShare: Double)       // towns only: share of towns in the hot box

object Shape {
  val TownSize = 400
  // the hot box of graft.gen.SyntheticScale: ~0.1 x 0.1 degrees near London
  val HotLon0 = -500000; val HotLat0 = 515000000; val HotSpan = 1000000
}

/** One change record as the generator wrote it into a `.osc` file.
 * Coordinates are integers in units of 1e-7 degrees, so the decimal text in
 * the file and the double Spark parses from it are the same value. */
final case class Rec(action: Int, objType: Int, id: Long, version: Int,
                     lon: Int, lat: Int, refs: Array[Long], changeset: Int)

object Rec {
  val Create = 0; val Modify = 1; val Delete = 2
  val Node = 0; val Way = 1; val Relation = 2
  val ActionName = Array("create", "modify", "delete")
}

/** What one applied sequence must produce, computed by the benchmark's own
 * replay (never by the engine): the compacted change count, and a digest
 * of the expected `dirty_way_geoms` rows. */
final case class SeqExpect(records: Int, compacted: Int, dirtyNodes: Int, dirty: WayDigest)

/** Order-independent digest of (way_id, n_points, wkt) rows; the three sums
 * tell apart a wrong id set, wrong point counts and wrong WKT. */
final case class WayDigest(rows: Long, idSum: Long, idPtsSum: Long, fullSum: Long) {
  def +(o: WayDigest) = WayDigest(rows + o.rows, idSum + o.idSum,
    idPtsSum + o.idPtsSum, fullSum + o.fullSum)
}

object WayDigest {
  val Empty = WayDigest(0, 0, 0, 0)
  import scala.util.hashing.MurmurHash3.{mix, finalizeHash, stringHash}
  private def h(x: Long, salt: Int): Long = {
    val a = mix(salt, (x ^ (x >>> 32)).toInt)
    finalizeHash(mix(a, (x >>> 32).toInt), 2).toLong & 0xffffffffL
  }
  def of(wayId: Long, nPoints: Int, wkt: String): WayDigest = {
    val i = h(wayId, 17)
    val ip = h(wayId * 31 + nPoints, 29)
    WayDigest(1, i, ip, ip * 65599 + (stringHash(wkt).toLong & 0xffffffffL))
  }
}

/**
 * The generated OSM-shaped world and its seeded change stream.
 *
 * The world doubles as the benchmark's replay oracle: [[nextSequence]]
 * draws a sequence, writes it as a `.osc` file, and replays it
 * last-writer-wins over the node state, recording the dirty ways the engine
 * must rebuild. Everything derives from `seed` through one
 * SplittableRandom, so a seed fixes every byte of every input.
 *
 * Way and relation records are written into the change files but only the
 * node records are replayed: the engine applies node changes only (way and
 * relation application is not implemented yet), and way records matter to
 * it only by excluding their ways from the dirty set.
 */
final class World(val seed: Long, val shape: Shape) {
  import Rec._

  private val rnd = new SplittableRandom(seed)
  private def unif(lo: Int, hi: Int): Int = rnd.nextInt(lo, hi + 1)

  // node i has id i + 1
  val lon = new IntBuf(shape.nodes * 2)
  val lat = new IntBuf(shape.nodes * 2)
  val nodeVersion = new IntBuf(shape.nodes * 2)
  val alive = new mutable.BitSet(shape.nodes * 2)
  // way w has id w + 1; members are fixed (the engine's way_members input)
  var wayNodes: Array[Array[Long]] = _
  val wayVersion = new IntBuf(1024)
  val wayAlive = new mutable.BitSet()
  var relWays: Array[Array[Long]] = _
  val relVersion = new IntBuf(1024)
  // node index -> ways through it (CSR)
  private var nodeWayStart: Array[Int] = _
  private var nodeWayList: Array[Int] = _
  // towns layout: node index range of each town; grid layout: side length
  private val townStart = new IntBuf(1024)
  private var gridSide = 0
  private var nBuilt = 0 // nodes of the initial snapshot

  build()

  private def build(): Unit = shape.layout match {
    case "towns" => buildTowns()
    case "grid" => buildGrid()
  }

  private def addNode(x: Int, y: Int): Int = {
    val i = lon.n
    lon += x; lat += y; nodeVersion += 1; alive += i; i
  }

  private def clampLat(y: Int) = math.max(-850000000, math.min(850000000, y))
  private def clampLon(x: Int) = math.max(-1800000000, math.min(1800000000, x))

  private def buildTowns(): Unit = {
    val ways = mutable.ArrayBuffer.empty[Array[Long]]
    while (lon.n < shape.nodes) {
      val t0 = lon.n
      // exactly hotShare of the towns, spread evenly, lie in the hot box, so
      // the hot share of the snapshot does not vary with the seed
      val town = townStart.n
      townStart += t0
      val (cx, cy) =
        if (((town + 1) * shape.hotShare).toInt > (town * shape.hotShare).toInt)
          (Shape.HotLon0 + rnd.nextInt(Shape.HotSpan), Shape.HotLat0 + rnd.nextInt(Shape.HotSpan))
        else (unif(-1790000000, 1790000000), unif(-840000000, 840000000))
      val end = math.min(shape.nodes, t0 + Shape.TownSize)
      while (lon.n < end) {
        var x = cx + unif(-100000, 100000); var y = cy + unif(-100000, 100000)
        val members = new Array[Long](shape.wayLen)
        var k = 0
        // a third of the ways start at a junction node of an earlier way
        if (lon.n > t0 && rnd.nextInt(3) == 0) {
          val j = unif(t0, lon.n - 1)
          members(0) = j + 1L; x = lon(j); y = lat(j); k = 1
        }
        while (k < shape.wayLen && lon.n < end) {
          x = clampLon(x + unif(-2000, 2000)); y = clampLat(y + unif(-2000, 2000))
          members(k) = addNode(x, y) + 1L; k += 1
        }
        if (k >= 2) ways += members.take(k)
      }
    }
    finishWays(ways.toArray)
  }

  private def buildGrid(): Unit = {
    val g = math.ceil(math.sqrt(shape.nodes.toDouble)).toInt
    gridSide = g
    val x0 = unif(-1700000000, 1600000000); val y0 = unif(-800000000, 700000000)
    val spacing = 1000 // 1e-4 degrees
    for (gy <- 0 until g; gx <- 0 until g)
      addNode(x0 + gx * spacing + unif(-200, 200), y0 + gy * spacing + unif(-200, 200))
    val nWays = (g.toLong * g * shape.waysPerNode / shape.wayLen).toInt
    val ways = Array.fill(nWays) {
      var gx = rnd.nextInt(g); var gy = rnd.nextInt(g)
      Array.fill(shape.wayLen) {
        val id = gy.toLong * g + gx + 1
        if (rnd.nextBoolean()) gx = (gx + 1) % g else gy = (gy + 1) % g
        id
      }
    }
    finishWays(ways)
  }

  private def finishWays(ways: Array[Array[Long]]): Unit = {
    nBuilt = lon.n
    wayNodes = ways
    ways.indices.foreach { w => wayVersion += 1; wayAlive += w }
    // a relation groups a run of neighbouring ways from a random start
    relWays = Array.fill(math.max(1, ways.length / shape.waysPerRel)) {
      val s = rnd.nextInt(ways.length)
      Array.tabulate(math.min(shape.waysPerRel, ways.length))(k => (s + k) % ways.length + 1L)
    }
    relWays.foreach(_ => relVersion += 1)
    // reverse index node -> ways
    val deg = new Array[Int](lon.n + 1)
    ways.foreach(_.foreach(id => deg(id.toInt - 1 + 1) += 1))
    var i = 1; while (i < deg.length) { deg(i) += deg(i - 1); i += 1 }
    nodeWayStart = deg.clone()
    nodeWayList = new Array[Int](deg(lon.n))
    val fill = deg.clone()
    ways.indices.foreach { w =>
      ways(w).foreach { id => val n = id.toInt - 1; nodeWayList(fill(n)) = w; fill(n) += 1 }
    }
  }

  def initialNodes: Int = nBuilt
  def wayCount: Int = wayNodes.length
  def relCount: Int = relWays.length
  def liveNodeCount: Int = alive.size

  // ---------------------------------------------------------------------
  // change sequences

  private def pickLiveNode(lo: Int, hi: Int, taken: mutable.Set[Int]): Int = {
    var tries = 0
    while (tries < 64) {
      val i = unif(lo, hi)
      if (alive(i) && !taken(i)) { taken += i; return i }
      tries += 1
    }
    -1
  }

  /** Node index range a changeset edits: one town, or one grid square. */
  private def editRegion(nodeEdits: Int): (Int, Int, Int, Int) = shape.layout match {
    case "towns" =>
      val t = rnd.nextInt(townStart.n)
      val lo = townStart(t)
      val hi = if (t + 1 < townStart.n) townStart(t + 1) - 1 else nBuilt - 1
      (lo, hi, lon(lo), lat(lo))
    case "grid" =>
      // a square of lattice rows holding ~3x the edits
      val rows = math.min(gridSide, math.max(1, 3 * nodeEdits / gridSide + 1))
      val r0 = rnd.nextInt(gridSide - rows + 1)
      val lo = r0 * gridSide
      (lo, lo + rows * gridSide - 1, lon(lo), lat(lo))
  }

  /** Draw sequence `seq`, write it to `osc`, replay it over the world.
   * Node actions: ~25% create, ~60% modify (most of them small moves),
   * ~15% delete; ~5% of edited nodes are edited a second time. Records
   * are ~85% node, ~12% way, ~3% relation, in `changesets` local
   * clusters. */
  def nextSequence(seq: Long, osc: Path): SeqExpect = {
    val recs = mutable.ArrayBuffer.empty[Rec]
    val perCs = math.max(1, shape.seqObjects / shape.changesets)
    val taken = mutable.HashSet.empty[Int] // an object is drawn once per sequence
    for (cs <- 0 until shape.changesets) {
      val nodeEdits = perCs * 85 / 100
      val wayEdits = perCs * 12 / 100
      val relEdits = math.max(if (cs % 3 == 0) 1 else 0, perCs * 3 / 100)
      val (lo, hi, cx, cy) = editRegion(nodeEdits)
      var k = 0
      while (k < nodeEdits) {
        val r = rnd.nextInt(100)
        if (r < 25) {
          val id = lon.n + 1L // ids are reserved as the records are drawn
          val i = addNode(clampLon(cx + unif(-20000, 20000)), clampLat(cy + unif(-20000, 20000)))
          alive -= i // becomes live when replayed
          recs += Rec(Create, Node, id, 1, lon(i), lat(i), null, cs)
        } else {
          val i = pickLiveNode(lo, hi, taken)
          if (i >= 0) {
            val v = nodeVersion(i) + 1
            if (r < 85) {
              val (x, y) =
                if (rnd.nextInt(5) == 0) (lon(i), lat(i)) // tag-only edit
                else (clampLon(lon(i) + unif(-1000, 1000)), clampLat(lat(i) + unif(-1000, 1000)))
              recs += Rec(Modify, Node, i + 1L, v, x, y, null, cs)
              if (rnd.nextInt(20) == 0) { // edited twice in one sequence
                if (rnd.nextBoolean())
                  recs += Rec(Modify, Node, i + 1L, v + 1,
                    clampLon(x + unif(-500, 500)), clampLat(y + unif(-500, 500)), null, cs)
                else recs += Rec(Delete, Node, i + 1L, v + 1, x, y, null, cs)
              }
            } else recs += Rec(Delete, Node, i + 1L, v, lon(i), lat(i), null, cs)
          }
        }
        k += 1
      }
      // ways touching the edited region
      var w = 0
      while (w < wayEdits) {
        val n = unif(lo, hi)
        val ws = nodeWayStart(n); val we = nodeWayStart(n + 1)
        val r = rnd.nextInt(100)
        if (r < 25) {
          val id = wayVersion.n + 1L
          wayVersion += 1
          val refs = Array.fill(math.min(shape.wayLen, 4))(unif(lo, hi) + 1L)
          recs += Rec(Create, Way, id, 1, 0, 0, refs, cs)
        } else if (we > ws) {
          val wi = nodeWayList(ws + rnd.nextInt(we - ws))
          if (wi < wayNodes.length && wayAlive(wi)) {
            wayVersion(wi) += 1
            if (r < 85) recs += Rec(Modify, Way, wi + 1L, wayVersion(wi), 0, 0, wayNodes(wi), cs)
            else { wayAlive -= wi; recs += Rec(Delete, Way, wi + 1L, wayVersion(wi), 0, 0, Array.empty, cs) }
          }
        }
        w += 1
      }
      var rr = 0
      while (rr < relEdits) {
        val ri = rnd.nextInt(relWays.length)
        relVersion(ri) += 1
        recs += Rec(Modify, Relation, ri + 1L, relVersion(ri), 0, 0, relWays(ri), cs)
        rr += 1
      }
    }
    writeOsc(seq, recs, osc)
    replay(recs)
  }

  /** Last-writer-wins replay of one sequence's node records, and the dirty
   * ways the engine must rebuild: ways through a node that moved (against
   * its pre-sequence location) or was deleted, minus ways in the file. */
  private def replay(recs: mutable.ArrayBuffer[Rec]): SeqExpect = {
    val latest = mutable.LinkedHashMap.empty[(Int, Long), Rec]
    recs.foreach { r =>
      val key = (r.objType, r.id)
      latest.get(key) match {
        case Some(p) if p.version > r.version => ()
        case _ => latest(key) = r
      }
    }
    val changedWays = latest.keysIterator.collect { case (Way, id) => id }.toSet
    val dirtyNodes = mutable.ArrayBuffer.empty[Int]
    val nodeRecs = latest.valuesIterator.filter(_.objType == Node).toArray
    nodeRecs.foreach { r =>
      val i = (r.id - 1).toInt
      if (r.action == Delete) dirtyNodes += i
      else if (r.action == Modify && alive(i) && (lon(i) != r.lon || lat(i) != r.lat))
        dirtyNodes += i
    }
    nodeRecs.foreach { r =>
      val i = (r.id - 1).toInt
      if (r.action == Delete) alive -= i
      else { lon(i) = r.lon; lat(i) = r.lat; nodeVersion(i) = r.version; alive += i }
    }
    val dirtyWays = mutable.BitSet.empty
    dirtyNodes.foreach { i =>
      if (i < nBuilt) {
        var p = nodeWayStart(i)
        while (p < nodeWayStart(i + 1)) {
          val w = nodeWayList(p)
          if (!changedWays(w + 1L)) dirtyWays += w
          p += 1
        }
      }
    }
    var digest = WayDigest.Empty
    dirtyWays.foreach { w =>
      val pts = wayNodes(w).iterator.map(id => (id - 1).toInt).filter(alive(_)).toArray
      if (pts.nonEmpty) digest += WayDigest.of(w + 1L, pts.length, World.lineString(pts, lon, lat))
    }
    SeqExpect(recs.size, latest.size, dirtyNodes.size, digest)
  }

  private def writeOsc(seq: Long, recs: mutable.ArrayBuffer[Rec], out: Path): Unit = {
    val sb = new java.lang.StringBuilder(recs.size * 160)
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osmChange version=\"0.6\" generator=\"perfbench\">\n")
    // one envelope per (changeset, action) run, in record order; a second
    // edit of the same object goes into its own later envelope
    var i = 0
    while (i < recs.size) {
      val a = recs(i).action; val cs = recs(i).changeset
      val seen = mutable.HashSet.empty[(Int, Long)]
      sb.append("<").append(ActionName(a)).append(">\n")
      while (i < recs.size && recs(i).action == a && recs(i).changeset == cs &&
        !seen((recs(i).objType, recs(i).id))) {
        val r = recs(i); seen += ((r.objType, r.id))
        val ts = World.timestamp(seq, i)
        r.objType match {
          case Node =>
            sb.append("  <node id=\"").append(r.id).append("\" version=\"").append(r.version)
              .append("\" timestamp=\"").append(ts).append("\" changeset=\"").append(seq * 100 + r.changeset)
              .append("\" lat=\"").append(World.deg(r.lat)).append("\" lon=\"").append(World.deg(r.lon))
              .append("\"")
            if (r.action == Delete) sb.append("/>\n")
            else sb.append(">\n    <tag k=\"perfbench\" v=\"").append(seq).append("\"/>\n  </node>\n")
          case Way =>
            sb.append("  <way id=\"").append(r.id).append("\" version=\"").append(r.version)
              .append("\" timestamp=\"").append(ts).append("\">\n")
            r.refs.foreach(n => sb.append("    <nd ref=\"").append(n).append("\"/>\n"))
            sb.append("    <tag k=\"highway\" v=\"residential\"/>\n  </way>\n")
          case Relation =>
            sb.append("  <relation id=\"").append(r.id).append("\" version=\"").append(r.version)
              .append("\" timestamp=\"").append(ts).append("\">\n")
            r.refs.foreach(w => sb.append("    <member type=\"way\" ref=\"").append(w)
              .append("\" role=\"outer\"/>\n"))
            sb.append("    <tag k=\"type\" v=\"multipolygon\"/>\n  </relation>\n")
        }
        i += 1
      }
      sb.append("</").append(ActionName(a)).append(">\n")
    }
    sb.append("</osmChange>\n")
    Files.createDirectories(out.getParent)
    Files.write(out, sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  // ---------------------------------------------------------------------
  // snapshot tables as plain rows (written to parquet by the caller)

  def nodeRows: Iterator[(Long, Double, Double)] =
    alive.iterator.map(i => (i + 1L, lon(i) / 1e7, lat(i) / 1e7))

  def wayMemberRows: Iterator[(Long, Long, Int)] =
    wayNodes.iterator.zipWithIndex.flatMap { case (ns, w) =>
      ns.iterator.zipWithIndex.map { case (n, p) => (w + 1L, n, p) }
    }

  def relMemberRows: Iterator[(Long, Long, String, String, Int)] =
    relWays.iterator.zipWithIndex.flatMap { case (ws, r) =>
      ws.iterator.zipWithIndex.map { case (w, p) => (r + 1L, w, "way", "outer", p) }
    }
}

object World {
  /** Integer 1e-7 degrees as exact decimal text. */
  def deg(v: Int): String = {
    val neg = v < 0; val a = math.abs(v.toLong)
    val s = f"${a / 10000000}%d.${a % 10000000}%07d"
    if (neg) "-" + s else s
  }

  def timestamp(seq: Long, i: Int): String = {
    val t = java.time.Instant.ofEpochSecond(1704067200L + seq * 60 + (i % 60))
    t.toString
  }

  private def fmt7(d: Double) = String.format(java.util.Locale.US, "%.7f", Double.box(d))

  /** The LINESTRING text the engine's way build emits, from node indices
   * in member order. */
  def lineString(pts: Array[Int], lon: IntBuf, lat: IntBuf): String =
    pts.map(i => fmt7(lon(i) / 1e7) + " " + fmt7(lat(i) / 1e7)).mkString("LINESTRING(", ",", ")")
}

/** The query side of `snapshot-queries`: 48-vertex star-shaped polygons
 * (a share of them in the hot box), kNN/distance query points and a z=6
 * tile inventory, all drawn from the seed. Polygon vertices sit on odd
 * multiples of 5e-9 degrees, so no node (on the 1e-7 grid) is a vertex. */
object QueryInputs {
  final case class Poly(id: Long, xs: Array[Double], ys: Array[Double], wkt: String)

  private def deg8(v: Long): String = {
    val a = math.abs(v)
    (if (v < 0) "-" else "") + f"${a / 100000000}%d.${a % 100000000}%08d"
  }

  def polys(seed: Long, n: Int, nv: Int = 48): Array[Poly] = {
    val rnd = new SplittableRandom(seed * 31 + 7)
    Array.tabulate(n) { i =>
      val hot = rnd.nextInt(10) < 3
      // centre and radius in 1e-8 degrees
      val (cx, cy0, r) =
        if (hot) ((Shape.HotLon0 + rnd.nextInt(Shape.HotSpan)) * 10L,
          (Shape.HotLat0 + rnd.nextInt(Shape.HotSpan)) * 10L, 100000L + rnd.nextInt(400000))
        else (rnd.nextLong(-17500000000L, 17500000000L), rnd.nextLong(-8000000000L, 8000000000L),
          20000000L + rnd.nextInt(180000000))
      // a world polygon reaching the hot box would add its ~30k nodes to
      // pip's output for that seed only; such polygons move south
      val nearHot = !hot && cx > (Shape.HotLon0 * 10L - r) && cx < (Shape.HotLon0 + Shape.HotSpan) * 10L + r &&
        cy0 > Shape.HotLat0 * 10L - r && cy0 < (Shape.HotLat0 + Shape.HotSpan) * 10L + r
      val cy = if (nearHot) -cy0 else cy0
      val pts = (0 until nv).map { j =>
        val ang = 2 * math.Pi * j / nv
        val rr = r * (0.55 + 0.45 * rnd.nextDouble())
        def odd5(v: Long) = v - math.floorMod(v, 10L) + 5
        (odd5(cx + math.round(rr * math.cos(ang))), odd5(cy + math.round(0.6 * rr * math.sin(ang))))
      }
      val ring = pts :+ pts.head
      val text = ring.map { case (x, y) => deg8(x) + " " + deg8(y) }
      val xs = text.map(t => t.split(' ')(0).toDouble).toArray
      val ys = text.map(t => t.split(' ')(1).toDouble).toArray
      Poly(i + 1L, xs, ys, text.mkString("POLYGON((", ",", "))"))
    }
  }

  /** (qid, qlon, qlat): one in seven inside the hot box, one in fifty
   * anywhere on the globe (most of those far from every node), the rest
   * within ~0.05 degrees of a random snapshot node. */
  def queries(seed: Long, n: Int, nodes: Array[(Double, Double)]): Array[(Long, Double, Double)] = {
    val rnd = new SplittableRandom(seed * 31 + 11)
    Array.tabulate(n) { i =>
      val (x, y) =
        if (hotQuery(i + 1L)) ((Shape.HotLon0 + rnd.nextInt(Shape.HotSpan)) / 1e7, (Shape.HotLat0 + rnd.nextInt(Shape.HotSpan)) / 1e7)
        else if (farQuery(i + 1L)) (rnd.nextInt(-1790000000, 1790000001) / 1e7, rnd.nextInt(-840000000, 840000001) / 1e7)
        else {
          val (nx, ny) = nodes(rnd.nextInt(nodes.length))
          (nx + rnd.nextInt(-500000, 500001) / 1e7, ny + rnd.nextInt(-500000, 500001) / 1e7)
        }
      (i + 1L, x, y)
    }
  }

  /** Which query ids [[queries]] puts in the hot box, and which anywhere on
   * the globe. */
  def hotQuery(qid: Long): Boolean = (qid - 1) % 7 == 0
  def farQuery(qid: Long): Boolean = !hotQuery(qid) && (qid - 1) % 50 == 49

  /** Two thirds of the z-level tiles, chosen by the seed, and always the
   * tiles of the hot box: it holds ~30% of the nodes, so leaving it to the
   * seed would swing tileJoin's output by that much from seed to seed. */
  def tiles(seed: Long, z: Int): Array[Long] = {
    val rnd = new SplittableRandom(seed * 31 + 13)
    val hot = for (x <- Seq(Shape.HotLon0, Shape.HotLon0 + Shape.HotSpan);
                   y <- Seq(Shape.HotLat0, Shape.HotLat0 + Shape.HotSpan)) yield tileId(x / 1e7, y / 1e7, z)
    (0L until (1L << (2 * z))).filter(t => rnd.nextInt(3) != 0 || hot.contains(t)).toArray
  }

  /** Tile id at zoom z, as the engine defines it: x * 2^z + y over the
   * clamped equirectangular grid. */
  def tileId(lon: Double, lat: Double, z: Int): Long = {
    val n = 1L << z
    def clamp(v: Long) = math.max(0L, math.min(n - 1, v))
    clamp(((lon + 180.0) / 360.0 * n).toLong) * n + clamp(((lat + 90.0) / 180.0 * n).toLong)
  }

  /** Plain even-odd ray cast, written independently of graft.geo. */
  def contains(p: Poly, px: Double, py: Double): Boolean = {
    var inside = false
    var i = 0
    while (i < p.xs.length - 1) {
      val x1 = p.xs(i); val y1 = p.ys(i); val x2 = p.xs(i + 1); val y2 = p.ys(i + 1)
      if ((y1 > py) != (y2 > py) && px < x1 + (py - y1) / (y2 - y1) * (x2 - x1)) inside = !inside
      i += 1
    }
    inside
  }
}
