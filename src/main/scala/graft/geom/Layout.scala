package graft.geom

/** Enhanced reading-order sort — port of the reference's weighted-distance
  * insertion (/root/reference/src/processors/layout_sorting.rs:125-471):
  * body text regions keep their region order and the floating elements
  * (doc titles, vision anchors = tables, paragraph titles) are inserted one
  * by one next to their nearest neighbor under an edge-distance metric
  * weighted per element class.
  */
object LayoutSort {

  sealed trait Label
  case object NormalText extends Label
  case object DocTitle extends Label
  case object ParaTitle extends Label
  case object Vision extends Label // tables: strong anchors

  final case class Sortable(box: Box, label: Label, payload: Int)

  private val ToleranceLen = 2.0
  private val EdgeWeight = 10000.0
  private val UpEdgeWeight = 1.0
  private val LeftEdgeWeight = 0.0001

  /** left/right/up/down distance weights per class
    * (layout_sorting.rs:398-414). `horizontal` = block wider than tall. */
  private def weights(label: Label, horizontal: Boolean): Array[Double] = label match {
    case DocTitle => if (horizontal) Array(1.0, 0.1, 0.1, 1.0) else Array(0.2, 0.1, 1.0, 1.0)
    case ParaTitle | Vision => Array(1.0, 1.0, 0.1, 1.0)
    case _ => Array(1.0, 1.0, 1.0, 0.1)
  }

  private def projOverlap(a: Box, b: Box, xAxis: Boolean): Double = {
    val (min1, max1, min2, max2) =
      if (xAxis) (a.x1, a.x2, b.x1, b.x2) else (a.y1, a.y2, b.y1, b.y2)
    val inter = math.max(0.0, math.min(max1, max2) - math.max(min1, min2))
    val union = math.max(max1, max2) - math.min(min1, min2)
    if (union > 0) inter / union else 0.0
  }

  /** Nearest-edge distance with per-side weights; 0 when the boxes overlap in
    * both projections (layout_sorting.rs:416-446). */
  private def edgeDistance(b1: Box, b2: Box, w: Array[Double]): Double = {
    val hOv = projOverlap(b1, b2, xAxis = true)
    val vOv = projOverlap(b1, b2, xAxis = false)
    if (hOv > 0 && vOv > 0) return 0.0
    var minX = 0.0
    var minY = 0.0
    if (hOv == 0) {
      val d = math.min(math.abs(b1.x1 - b2.x2), math.abs(b1.x2 - b2.x1))
      minX = d * (if (b1.x2 < b2.x1) w(0) else w(1))
    }
    if (vOv == 0) {
      val d = math.min(math.abs(b1.y1 - b2.y2), math.abs(b1.y2 - b2.y1))
      minY = d * (if (b1.y2 < b2.y1) w(2) else w(3))
    }
    minX + minY
  }

  /** Insert `block` into `sorted` at the position given by the weighted
    * distance rule (layout_sorting.rs:231-396, horizontal region). */
  def weightedInsert(block: Sortable, sorted: scala.collection.mutable.ArrayBuffer[Sortable]): Unit = {
    if (sorted.isEmpty) { sorted += block; return }
    val w = weights(block.label, block.box.w >= block.box.h)
    var minWeighted = Double.PositiveInfinity
    var minUpEdge = Double.PositiveInfinity
    var nearest = 0
    val x1 = block.box.x1; val y1 = block.box.y1
    for (idx <- sorted.indices) {
      val sb = sorted(idx)
      val edge = edgeDistance(block.box, sb.box, w)
      var upDist = sb.box.y1
      var leftDist = sb.box.x1
      // floating elements below an already-sorted block flip the distances
      // negative so earlier (higher) anchors win ties
      val isBelow = sb.box.y2 < y1
      if (isBelow) { upDist = -upDist; leftDist = -leftDist }
      if (math.abs(minUpEdge - upDist) <= ToleranceLen) upDist = minUpEdge
      val weighted = edge * EdgeWeight + upDist * UpEdgeWeight + leftDist * LeftEdgeWeight
      minUpEdge = math.min(minUpEdge, upDist)
      if (weighted < minWeighted) {
        minWeighted = weighted
        // before-or-after: 2-unit y buckets, then x, then centroid norm
        val yi = math.floor(y1).toInt / 2
        val ypi = math.floor(sb.box.y1).toInt / 2
        val (sortedVal, blockVal) =
          if (math.abs(yi - ypi) > 0) (sb.box.y1, y1)
          else {
            // deliberately the block's OWN x1 vs x2 buckets — a WIDTH gate,
            // not a block-vs-neighbor compare. This ports the reference
            // exactly (layout_sorting.rs:348-365, itself flagging that the
            // upstream Python uses `abs(x1//2 - x2//2)`): narrow blocks
            // (< ~2 units) fall through to the centroid-norm tie-break.
            val xi = math.floor(x1).toInt / 2
            val x2i = math.floor(block.box.x2).toInt / 2
            if (math.abs(xi - x2i) > 0) (sb.box.x1, x1)
            else {
              val (cx, cy) = (block.box.cx, block.box.cy)
              val (sx, sy) = (sb.box.cx, sb.box.cy)
              (sx * sx + sy * sy, cx * cx + cy * cy)
            }
          }
        nearest = if (blockVal > sortedVal) idx + 1 else idx
      }
    }
    sorted.insert(math.min(nearest, sorted.length), block)
  }

  /** Overlap removal — the reference's duplicate-element suppression
    * (/root/reference/src/domain/structure.rs:1013-1046,
    * layout_utils.rs:618,716): when two elements overlap with
    * IoA(smaller) above the threshold, drop the Vision element against text
    * (text priority, threshold 0.5), otherwise drop the smaller element
    * (threshold 0.65). Earlier elements win ties. */
  def removeOverlaps(els: Vector[Sortable]): Vector[Sortable] = {
    val dropped = scala.collection.mutable.BitSet.empty
    for (i <- els.indices; j <- (i + 1) until els.length
         if !dropped(i) && !dropped(j)) {
      val a = els(i); val b = els(j)
      val ioa = Geom.ioa(a.box, b.box)
      (a.label, b.label) match {
        case (Vision, lb) if lb != Vision && ioa > 0.5 => dropped += i
        case (la, Vision) if la != Vision && ioa > 0.5 => dropped += j
        case _ if ioa > 0.65 =>
          dropped += (if (a.box.area < b.box.area) i else j)
        case _ => ()
      }
    }
    els.zipWithIndex.collect { case (e, i) if !dropped(i) => e }
  }

  /** Full enhanced order: the NormalText regions in their given order, with
    * DocTitle, then Vision, then ParaTitle blocks weighted-inserted (each
    * class pre-sorted by y). */
  def enhancedOrder(textRegions: Vector[Sortable], floating: Vector[Sortable]): Vector[Sortable] = {
    val sorted = scala.collection.mutable.ArrayBuffer.from(textRegions)
    for (b <- floating.filter(_.label == DocTitle).sortBy(_.box.y1)) weightedInsert(b, sorted)
    for (b <- floating.filter(_.label == Vision).sortBy(_.box.y1)) weightedInsert(b, sorted)
    for (b <- floating.filter(_.label == ParaTitle).sortBy(_.box.y1)) weightedInsert(b, sorted)
    sorted.toVector
  }
}
