package graft

import graft.operators.LinkGraph

/** Integer-protocol PageRank: hand-stepped ranks, dangling evaporation,
  * multi-edge collapse, and bounds. */
class LinkGraphSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(edges: Seq[(String, String)], iters: Int)
  : Map[String, Double] =
    LinkGraph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("hand-stepped 3-node graph: A->B, B->A, A->C (C dangling)") {
    val e = Seq(("A", "B"), ("B", "A"), ("A", "C"))
    // iter 1 (micros): A deg 2, B deg 1; contribs: B<-A 500000,
    // C<-A 500000, A<-B 1000000.
    // A = 150000 + 85*1000000/100 = 1000000
    // B = 150000 + 85*500000/100  = 575000
    // C = 575000; C is dangling -> its mass evaporates next round.
    assert(ranks(e, 1) == Map("A" -> 1.0, "B" -> 0.575, "C" -> 0.575))
    // iter 2: contribs: A<-B 575000, B<-A 500000, C<-A 500000
    // A = 150000 + 488750 = 638750; B = C = 150000 + 425000 = 575000
    assert(ranks(e, 2) == Map("A" -> 0.63875, "B" -> 0.575, "C" -> 0.575))
  }

  test("hub authority: the node every other node links to outranks " +
    "the leaves; duplicate and null edges do not distort it") {
    val spokes = (1 to 6).map(i => (s"n$i", "hub"))
    val dup = spokes ++ spokes // exact duplicates must collapse
    val r = LinkGraph.pageRank(
      (dup.map { case (a, b) => (a: String, b: String) } :+
        ((null: String), "hub") :+ ("n1", (null: String)))
        .toDF("src", "dst"),
      "src", "dst", iters = 3)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r("hub") > r("n1"))
    assert((1 to 6).map(i => r(s"n$i")).distinct.size == 1)
    assert(r.keySet == (1 to 6).map(i => s"n$i").toSet + "hub")
  }

  test("deterministic across partitioning and input order") {
    val rnd = new scala.util.Random(31)
    val edges = (0 until 300).map(_ =>
      (s"h${rnd.nextInt(40)}", s"h${rnd.nextInt(40)}"))
    val a = LinkGraph.pageRank(edges.toDF("src", "dst"), "src", "dst", 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val b = LinkGraph.pageRank(
        edges.reverse.toDF("src", "dst").repartition(7), "src", "dst", 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(a == b)
  }

  private def hitsMap(edges: Seq[(String, String)], iters: Int)
  : Map[String, (Double, Double)] =
    LinkGraph.hits(edges.toDF("src", "dst"), "src", "dst", iters)
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap

  test("hits: hand-stepped directory graph, both iterations exact") {
    // D is a directory (links A, B, C), E endorses only A
    val e = Seq(("D", "A"), ("D", "B"), ("D", "C"), ("E", "A"))
    // iter1: a_raw A=2e6,B=1e6,C=1e6; den=2 -> a=(1e6,5e5,5e5)
    //        h_raw D=2e6,E=1e6; den=2 -> h=(1e6,5e5)
    // iter2: a_raw A=1.5e6,B=1e6,C=1e6; den=ceil(1.5)=2
    //        -> a=(750000,500000,500000)
    //        h_raw D=1.75e6,E=750000; den=2 -> h=(875000,375000)
    val r = hitsMap(e, 2)
    assert(r("D") == (0.875, 0.0))
    assert(r("E") == (0.375, 0.0))
    assert(r("A") == (0.0, 0.75))
    assert(r("B") == (0.0, 0.5))
    assert(r("C") == (0.0, 0.5))
  }

  test("hits: hubs and authorities separate; dup/null edges collapse; " +
    "deterministic across partitioning") {
    val spokes = (1 to 5).map(i => ("directory", s"page$i"))
    val e = spokes ++ spokes :+ ((null: String), "page1") :+
      ("page9", (null: String)) :+ ("lone", "page1")
    val df = e.toDF("src", "dst")
    val r = LinkGraph.hits(df, "src", "dst", 3).collect()
      .map(x => x.getString(0) -> (x.getDouble(1), x.getDouble(2)))
      .toMap
    // the ceiling rescale keeps everything <= 1.0 and the directory
    // (5 endorsements) on top of the single-link hub
    assert(r.values.forall { case (h, a) => h <= 1.0 && a <= 1.0 })
    assert(r("directory")._1 > r("lone")._1)
    assert(r("page1")._2 >= r("page2")._2) // doubly-endorsed page leads
    assert(r.keySet ==
      (1 to 5).map(i => s"page$i").toSet + "directory" + "lone")
    val b = LinkGraph.hits(df.repartition(7), "src", "dst", 3).collect()
      .map(x => x.getString(0) -> (x.getDouble(1), x.getDouble(2)))
      .toMap
    assert(r == b)
  }

  test("hits refusals: iteration bounds and empty edge set") {
    val e = Seq(("a", "b")).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      LinkGraph.hits(e, "src", "dst", 0)
    }
    intercept[IllegalArgumentException] {
      LinkGraph.hits(e, "src", "dst", 51)
    }
    intercept[IllegalArgumentException] {
      LinkGraph.hits(e.where($"src" === "zzz"), "src", "dst", 1)
    }
  }

  private def triMap(edges: Seq[(String, String)])
  : Map[String, (Long, Long, Double)] =
    LinkGraph.triangles(edges.toDF("src", "dst"), "src", "dst")
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap

  test("triangles: K4 gives 3 per node and clustering 1; a pendant " +
    "node gets 0; direction/multiplicity/self-loops collapse") {
    val k4 = for {
      a <- Seq("A", "B", "C", "D"); b <- Seq("A", "B", "C", "D")
      if a != b
    } yield (a, b) // both directions = multiplicity 2 per pair
    val e = k4 ++ Seq(("D", "E"), ("A", "A"), ("E", "D"))
    val r = triMap(e)
    for (n <- Seq("A", "B", "C")) assert(r(n) == (3L, 3L, 1.0))
    assert(r("D") == (4L, 3L, 0.5)) // deg 4: 3 of C(4,2)=6 wedges close
    assert(r("E") == (1L, 0L, 0.0)) // pendant: degree < 2 -> 0.0
  }

  test("triangles: overlapping triangles count per node; a " +
    "triangle-free star is all zeros") {
    // two triangles sharing edge A-B: ABC and ABD
    val r = triMap(Seq(("A", "B"), ("A", "C"), ("B", "C"),
      ("A", "D"), ("B", "D")))
    assert(r("A")._2 == 2L && r("B")._2 == 2L)
    assert(r("C")._2 == 1L && r("D")._2 == 1L)
    val star = triMap((1 to 5).map(i => ("hub", s"n$i")))
    assert(star.values.forall(_._2 == 0L))
    assert(star("hub")._1 == 5L)
  }

  test("triangles: deterministic across partitioning; degree ties " +
    "break on node name without losing triangles") {
    val rnd = new scala.util.Random(41)
    val edges = (0 until 400).map(_ =>
      (s"g${rnd.nextInt(30)}", s"g${rnd.nextInt(30)}"))
    val df = edges.toDF("src", "dst")
    val a = LinkGraph.triangles(df, "src", "dst").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val b = LinkGraph.triangles(df.repartition(7), "src", "dst")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(a == b)
    // global triangle identity: sum of per-node counts = 3 * |triangles|
    assert(a.values.map(_._2).sum % 3 == 0)
  }

  test("kCore: K4 survives k=3 while its tail peels in cascade; " +
    "kCorePeel exposes the intermediate rounds") {
    val k4 = Seq(("A", "B"), ("A", "C"), ("A", "D"), ("B", "C"),
      ("B", "D"), ("C", "D"))
    val e = (k4 ++ Seq(("D", "E"), ("E", "F"))).toDF("src", "dst")
    val core = LinkGraph.kCorePeel(e, "src", "dst", k = 3, rounds = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(core == Map("A" -> 3L, "B" -> 3L, "C" -> 3L, "D" -> 3L))
    // round 1 peels F (deg 1 < 3) and E (deg 2 < 3) TOGETHER — bulk
    // synchronous, both judged on the same pre-round degrees
    val r1 = LinkGraph.kCorePeel(e, "src", "dst", k = 3, rounds = 1)
      .collect().map(_.getString(0)).toSet
    assert(r1 == Set("A", "B", "C", "D"))
    // chain peeling needs a round per link: path v1..v5 at k=2 loses
    // only its ENDPOINTS each round
    val path = (1 to 4).map(i => (s"v$i", s"v${i + 1}"))
      .toDF("src", "dst")
    val after1 = LinkGraph.kCorePeel(path, "src", "dst", 2, 1)
      .collect().map(_.getString(0)).toSet
    assert(after1 == Set("v2", "v3", "v4"))
    assert(LinkGraph.kCorePeel(path, "src", "dst", 2, rounds = 3)
      .collect().isEmpty)
  }

  test("kCore: a ring is its own 2-core; convergence matches a deep " +
    "fixed peel; deterministic across partitioning; refusals") {
    val ring = (0 until 6).map(i => (s"r$i", s"r${(i + 1) % 6}"))
    val mixed = (ring ++ Seq(("r0", "x"), ("x", "y"))).toDF("src", "dst")
    val core = LinkGraph.kCorePeel(mixed, "src", "dst", 2, rounds = 30)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(core == (0 until 6).map(i => s"r$i" -> 2L).toMap)
    val repart = LinkGraph.kCorePeel(mixed.repartition(7), "src", "dst", 2,
      rounds = 30).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(repart == core)
    intercept[IllegalArgumentException] {
      LinkGraph.kCorePeel(mixed, "src", "dst", 0, rounds = 1)
    }
    intercept[IllegalArgumentException] {
      LinkGraph.kCorePeel(mixed, "src", "dst", 2, rounds = 0)
    }
    intercept[IllegalArgumentException] {
      LinkGraph.kCorePeel(mixed, "src", "dst", 2, rounds = 101)
    }
  }

  test("labelPropagation: two cliques joined by a bridge resolve to " +
    "two communities; hand-stepped sync rounds; deterministic") {
    def clique(p: String) = for {
      a <- 1 to 4; b <- 1 to 4 if a < b
    } yield (s"$p$a", s"$p$b")
    val e = (clique("a") ++ clique("b") :+ ("a1", "b1"))
      .toDF("src", "dst")
    val r = LinkGraph.labelPropagation(e, "src", "dst", iters = 4)
      .collect().map(x => x.getString(0) -> x.getString(1)).toMap
    // every a-node converges to label a1, every b-node to b1 (min
    // label of each clique); the bridge does not merge them
    assert((1 to 4).forall(i => r(s"a$i") == "a1"), r.toString)
    assert((2 to 4).forall(i => r(s"b$i") == "b1"), r.toString)
    // hand-step round 1 on a triangle with one pendant: every
    // triangle node sees two labels once each -> tie -> min neighbor
    val tri = Seq(("x", "y"), ("y", "z"), ("x", "z"), ("z", "p"))
      .toDF("src", "dst")
    val r1 = LinkGraph.labelPropagation(tri, "src", "dst", 1)
      .collect().map(x => x.getString(0) -> x.getString(1)).toMap
    // x: neighbors {y,z} -> min y? no: labels y,z once each -> 'y'...
    // votes: x sees y,z -> min 'y'; y sees x,z -> 'x'; z sees x,y,p
    // -> 'p'; p sees z -> 'z'
    assert(r1 == Map("x" -> "y", "y" -> "x", "z" -> "p", "p" -> "z"))
    val rp = LinkGraph.labelPropagation(e.repartition(7), "src", "dst", 4)
      .collect().map(x => x.getString(0) -> x.getString(1)).toMap
    assert(rp == r)
    intercept[IllegalArgumentException] {
      LinkGraph.labelPropagation(e, "src", "dst", 0)
    }
    intercept[IllegalArgumentException] {
      LinkGraph.labelPropagation(e, "src", "dst", 51)
    }
  }

  test("personalizedPageRank: hand-stepped seed restart; mass decays " +
    "with link distance from the seed; unreachable nodes get zero") {
    // chain S -> A -> B plus an off-topic island X -> Y
    val e = Seq(("S", "A"), ("A", "B"), ("X", "Y")).toDF("src", "dst")
    val r = LinkGraph.personalizedPageRank(e, "src", "dst", Seq("S"), 2)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    // iter1: S=150000; A gets 85*1000000/100=850000; B gets 0
    // iter2: S=150000; A = 85*150000/100 = 127500;
    //        B = 85*850000/100 = 722500; X=Y=0
    assert(r("S") == 0.15 && r("A") == 0.1275 && r("B") == 0.7225)
    assert(r("X") == 0.0 && r("Y") == 0.0)
    // seed ordering beats distance: with damping the seed's own
    // teleport mass keeps the near neighborhood above the far one
    val deep = LinkGraph.personalizedPageRank(e, "src", "dst",
      Seq("S"), 10).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(deep("A") > 0.0 && deep("X") == 0.0)
    intercept[IllegalArgumentException] {
      LinkGraph.personalizedPageRank(e, "src", "dst", Nil, 3)
    }
    intercept[IllegalArgumentException] {
      LinkGraph.personalizedPageRank(e, "src", "dst", Seq("S", "S"), 3)
    }
    intercept[IllegalArgumentException] {
      LinkGraph.personalizedPageRank(e, "src", "dst", Seq("S"), 0)
    }
  }

  test("hopDistance: directed min-distance within the bound; " +
    "unreached and out-of-graph seeds absent; shortcut wins") {
    // S -> A -> B -> C -> D, plus shortcut S -> C; reverse edge D -> S
    val e = Seq(("S", "A"), ("A", "B"), ("B", "C"), ("C", "D"),
      ("S", "C"), ("D", "S")).toDF("src", "dst")
    val d3 = LinkGraph.hopDistance(e, "src", "dst", Seq("S"), 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // C via the shortcut at 1, D at 2; B at 2 through A
    assert(d3 == Map("S" -> 0L, "A" -> 1L, "B" -> 2L, "C" -> 1L,
      "D" -> 2L))
    val d1 = LinkGraph.hopDistance(e, "src", "dst", Seq("S"), 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d1 == Map("S" -> 0L, "A" -> 1L, "C" -> 1L))
    // direction respected: from D, S is 1 hop (D->S), A is 2
    val fromD = LinkGraph.hopDistance(e, "src", "dst", Seq("D"), 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fromD == Map("D" -> 0L, "S" -> 1L, "A" -> 2L, "C" -> 2L))
    // a seed absent from the graph emits nothing
    val ghost = LinkGraph.hopDistance(e, "src", "dst", Seq("Z"), 2)
    assert(ghost.collect().isEmpty)
    intercept[IllegalArgumentException] {
      LinkGraph.hopDistance(e, "src", "dst", Nil, 2)
    }
    intercept[IllegalArgumentException] {
      LinkGraph.hopDistance(e, "src", "dst", Seq("S"), 0)
    }
    intercept[IllegalArgumentException] {
      LinkGraph.hopDistance(e, "src", "dst", Seq("S", "S"), 2)
    }
  }

  test("reciprocity: mutual pairs count, one-way links do not; " +
    "self-loops and duplicates collapse; sink nodes absent") {
    val e = Seq(
      ("A", "B"), ("B", "A"), // mutual
      ("A", "C"), // one-way
      ("A", "C"), // duplicate must collapse
      ("C", "C"), // self-loop dropped
      ("D", "A")) // one-way into A; D never receives
      .toDF("src", "dst")
    val r = LinkGraph.reciprocity(e, "src", "dst")
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r("A") == (2L, 1L, 0.5)) // out: B (mutual), C (one-way)
    assert(r("B") == (1L, 1L, 1.0))
    assert(r("D") == (1L, 0L, 0.0))
    assert(!r.contains("C")) // C has no out-edges after the drops
    val rp = LinkGraph.reciprocity(e.repartition(5), "src", "dst")
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(rp == r)
  }

  test("refusals: iteration and damping bounds") {
    val e = Seq(("a", "b")).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      LinkGraph.pageRank(e, "src", "dst", 0)
    }
    intercept[IllegalArgumentException] {
      LinkGraph.pageRank(e, "src", "dst", 51)
    }
    intercept[IllegalArgumentException] {
      LinkGraph.pageRank(e, "src", "dst", 3, dampingPct = 101)
    }
  }

  test("linkPrediction: RA scores in exact micros, existing edges " +
    "excluded, hub-center cap drops wedges loudly") {
    import spark.implicits._
    // triangle a-b-c plus a-d, b-d: the one non-adjacent pair is (c, d)
    // with common neighbors {a, b}, both degree 3 -> ra = 2*(10^6 DIV 3)
    val e = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("a", "d"), ("b", "d"))
      .toDF("s", "t")
    val out = LinkGraph.linkPrediction(e, "s", "t", maxDeg = 1000, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    assert(out.toSeq == Seq(("c", "d", 2L, 666666L)), out.mkString(","))
    // direction and duplicates collapse before scoring
    val dup = Seq(("b", "a"), ("a", "b"), ("a", "c"), ("b", "c"),
      ("a", "d"), ("d", "b")).toDF("s", "t")
    val out2 = LinkGraph.linkPrediction(dup, "s", "t", 1000, 10).collect()
    assert(out2.length == 1 && out2(0).getLong(3) == 666666L)
    // maxDeg=2 drops centers a and b (degree 3); the only wedge centers
    // left are c and d, whose single pair (a, b) is an existing edge
    assert(LinkGraph.linkPrediction(e, "s", "t", maxDeg = 2, topK = 10)
      .count() == 0L)
    intercept[IllegalArgumentException] {
      LinkGraph.linkPrediction(e, "s", "t", maxDeg = 1, topK = 10)
    }
  }
}
