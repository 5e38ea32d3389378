package graftbench

import graft.pages.PageGen

/** A graph as the driver sees it: vertex ids and directed edges, all dense
  * non-negative ints (every workload's ids fit). */
final case class IntGraph(vertices: Array[Int], src: Array[Int], dst: Array[Int]) {
  val idSpace: Int = (vertices.iterator ++ src.iterator ++ dst.iterator).foldLeft(-1)(math.max) + 1
  def nnz: Int = src.length

  /** The graph with every edge also reversed, duplicates dropped. */
  def symmetric: IntGraph = {
    val pairs = src.indices.iterator.flatMap { e =>
      Iterator((src(e).toLong << 32) | dst(e).toLong, (dst(e).toLong << 32) | src(e).toLong)
    }.toArray.distinct.sorted
    IntGraph(vertices, pairs.map(p => (p >>> 32).toInt), pairs.map(p => (p & 0xffffffffL).toInt))
  }

  /** CSR over `by` (source or destination) listing the opposite endpoint. */
  def csr(by: Array[Int], other: Array[Int]): (Array[Int], Array[Int]) = {
    val ptr = new Array[Int](idSpace + 1)
    by.foreach(v => ptr(v + 1) += 1)
    var i = 0
    while (i < idSpace) { ptr(i + 1) += ptr(i); i += 1 }
    val fill = ptr.clone()
    val adj = new Array[Int](by.length)
    i = 0
    while (i < by.length) { adj(fill(by(i))) = other(i); fill(by(i)) += 1; i += 1 }
    (ptr, adj)
  }
}

/** Single-threaded driver-side answers the benchmark checks graft against.
  * Each is written from the kernel's definition, not from graft's code. */
object Reference {

  /** The crawl graph from the page generator's definition: dictionary ids
    * are ranks of the sorted distinct urls (pages and link targets), edges
    * are distinct non-loop (src, dst) id pairs. */
  def crawlGraph(nPages: Int, seed: Long, nSites: Int = 97): IntGraph = {
    val links = Array.tabulate(nPages)(i => PageGen.links(seed, i.toLong, nPages.toLong, nSites).toArray)
    val pageUrls = Array.tabulate(nPages)(i => PageGen.url(i.toLong, nSites))
    val urls = (pageUrls.iterator ++ links.iterator.flatten).toArray.distinct.sorted
    val id = urls.zipWithIndex.toMap
    val pairs = links.indices.iterator.flatMap { i =>
      val s = id(pageUrls(i))
      links(i).iterator.map(u => (s.toLong << 32) | id(u).toLong).filter(p => (p >>> 32) != (p & 0xffffffffL))
    }.toArray.distinct.sorted
    IntGraph(urls.indices.toArray, pairs.map(p => (p >>> 32).toInt), pairs.map(p => (p & 0xffffffffL).toInt))
  }

  /** Power iteration with uniform redistribution of dangling mass. */
  def pagerank(g: IntGraph, iters: Int = 10, d: Double = 0.85): Array[Double] = {
    val n = g.vertices.length
    val outdeg = new Array[Int](g.idSpace)
    g.src.foreach(s => outdeg(s) += 1)
    var pr = new Array[Double](g.idSpace)
    g.vertices.foreach(v => pr(v) = 1.0 / n)
    for (_ <- 1 to iters) {
      var sink = 0.0
      g.vertices.foreach(v => if (outdeg(v) == 0) sink += pr(v))
      val acc = new Array[Double](g.idSpace)
      var e = 0
      while (e < g.nnz) { acc(g.dst(e)) += pr(g.src(e)) / outdeg(g.src(e)); e += 1 }
      val next = new Array[Double](g.idSpace)
      g.vertices.foreach(v => next(v) = (1 - d) / n + d * (acc(v) + sink / n))
      pr = next
    }
    pr
  }

  /** Union-find; each vertex's label is the least id in its component. */
  def components(g: IntGraph): Array[Int] = {
    val parent = Array.tabulate(g.idSpace)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var e = 0
    while (e < g.nnz) {
      val a = find(g.src(e)); val b = find(g.dst(e))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      e += 1
    }
    Array.tabulate(g.idSpace)(find)
  }

  /** Synchronous label propagation: each vertex takes the label most common
    * among its in-neighbours, ties to the least label; a vertex with no
    * in-neighbours keeps its label. */
  def labelprop(g: IntGraph, rounds: Int = 5): Array[Int] = {
    val (ptr, adj) = g.csr(g.dst, g.src)
    var label = Array.tabulate(g.idSpace)(identity)
    for (_ <- 1 to rounds) {
      val next = label.clone()
      g.vertices.foreach { v =>
        if (ptr(v + 1) > ptr(v)) {
          val ls = (ptr(v) until ptr(v + 1)).map(i => label(adj(i))).sorted
          var best = ls(0); var bestCount = 0
          var i = 0
          while (i < ls.length) {
            var j = i
            while (j < ls.length && ls(j) == ls(i)) j += 1
            if (j - i > bestCount) { bestCount = j - i; best = ls(i) }
            i = j
          }
          next(v) = best
        }
      }
      label = next
    }
    label
  }

  /** Forward algorithm over the (degree, id) order of a symmetric graph. */
  def triangles(g: IntGraph): Long = {
    val deg = new Array[Int](g.idSpace)
    g.src.foreach(s => deg(s) += 1)
    def before(a: Int, b: Int) = deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
    val keep = g.src.indices.filter(e => before(g.src(e), g.dst(e)))
    val oriented = IntGraph(g.vertices, keep.map(g.src).toArray, keep.map(g.dst).toArray)
    val (ptr, adj) = oriented.csr(oriented.src, oriented.dst)
    var v = 0
    while (v < g.idSpace) { java.util.Arrays.sort(adj, ptr(v), ptr(v + 1)); v += 1 }
    var count = 0L
    var e = 0
    while (e < oriented.nnz) {
      val a = oriented.src(e); val b = oriented.dst(e)
      var i = ptr(a); var j = ptr(b)
      while (i < ptr(a + 1) && j < ptr(b + 1)) {
        if (adj(i) < adj(j)) i += 1
        else if (adj(i) > adj(j)) j += 1
        else { count += 1; i += 1; j += 1 }
      }
      e += 1
    }
    count
  }

  /** Two-hop product A·A with unit weights: (nnz, sum of weights). The
    * weight sum is the number of products, Σ_k indeg(k)·outdeg(k). */
  def twoHop(g: IntGraph): (Long, Long) = {
    val (ptr, adj) = g.csr(g.src, g.dst)
    val mark = Array.fill(g.idSpace)(-1)
    var nnz = 0L; var products = 0L
    var i = 0
    while (i < g.idSpace) {
      var p = ptr(i)
      while (p < ptr(i + 1)) {
        val k = adj(p)
        var q = ptr(k)
        while (q < ptr(k + 1)) {
          val j = adj(q)
          if (mark(j) != i) { mark(j) = i; nnz += 1 }
          products += 1; q += 1
        }
        p += 1
      }
      i += 1
    }
    (nnz, products)
  }
}
