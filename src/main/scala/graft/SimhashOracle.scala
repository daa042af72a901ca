package graft

/**
 * Generates the DuckDB oracle SQL for `q16_dedup_simhash` — a faithful SQL
 * replay of the operator's whole pipeline:
 *
 *   1. whitespace tokens (`split(text, ' ')`, empties kept — string_split
 *      matches Spark's split here),
 *   2. xxHash64(seed=42) of each token's UTF-8 bytes — the exact algorithm
 *      behind [[graft.functions.TextOps.hashUtf8]] (Spark's XXH64 is
 *      spec-standard xxHash64: 32-byte stripe accumulators, 8/4/1-byte
 *      tails, avalanche),
 *   3. the ±1 per-bit SimHash vote (bit set iff the vote sum is positive),
 *   4. all-pairs `hamming(sim_a, sim_b) <= maxHam`.
 *
 * Step 4 is a *stronger* formulation than the operator's pigeonhole block
 * join, and equal to it by the pigeonhole argument (ham <= blocks-1 forces
 * an equal block), so the oracle independently pins the candidate
 * generation too.
 *
 * DuckDB raises on 64-bit overflow instead of wrapping, so every 64-bit
 * step is emitted over HUGEINT with explicit mod-2^64 reductions; constant
 * multiplications split the constant into 32-bit halves so no intermediate
 * exceeds 2^96. Sequential folds (stripes, tails) are `list_reduce` with
 * the initial state prepended; single-evaluation let-bindings are spelled
 * `list_transform([v], x -> body)[1]`.
 */
private[graft] object SimhashOracle {

  private val M = BigInt(1) << 64
  private val P1 = BigInt("9E3779B185EBCA87", 16)
  private val P2 = BigInt("C2B2AE3D27D4EB4F", 16)
  private val P3 = BigInt("165667B19E3779F9", 16)
  private val P4 = BigInt("85EBCA77C2B2AE63", 16)
  private val P5 = BigInt("27D4EB2F165667C5", 16)
  private val Seed = BigInt(graft.functions.TextOps.SEED)

  // fresh lambda-variable names: nested let/lambda scopes must not shadow
  private var n = 0
  private def fresh(): String = synchronized { n += 1; s"__v$n" }

  private def let(v: String)(body: String => String): String = {
    val x = fresh(); s"list_transform([$v], $x -> ${body(x)})[1]"
  }
  private def hl(c: BigInt): String = s"$c::HUGEINT"
  private def add(a: String, b: String): String = s"(($a + $b) % ${M})"
  /** (a * c) mod 2^64 for variable a, CONSTANT c — every multiply in
    * xxHash64 is by a prime constant. Split c's low 32 bits so both
    * products stay under 2^97 (HUGEINT-safe). */
  private def mulC(a: String, c: BigInt): String = let(a) { x =>
    s"((($x % 4294967296) * ${hl(c)} + (($x // 4294967296) * ${hl(c & 0xFFFFFFFFL)} % 4294967296) * 4294967296) % $M)"
  }
  private def rotl(a: String, r: Int): String = let(a) { x =>
    s"(($x * ${hl(BigInt(1) << r)}) % $M + $x // ${hl(BigInt(1) << (64 - r))})"
  }
  private def xor(a: String, b: String): String = s"xor($a, $b)"
  private def shr(a: String, s: Int): String = s"($a // ${hl(BigInt(1) << s)})"

  /** One stripe round: acc = rotl(acc + lane*P2, 31) * P1. */
  private def round(acc: String, lane: String): String =
    mulC(rotl(add(acc, mulC(lane, P2)), 31), P1)
  /** Post-stripe merge: h = (h ^ round(0, v)) * P1 + P4. */
  private def merge(h: String, v: String): String =
    add(mulC(xor(h, mulC(rotl(mulC(v, P2), 31), P1)), P1), hl(P4))

  /** The xxHash64 value (as HUGEINT in [0, 2^64)) of the UTF-8 bytes of
    * column `t`, as one scalar SQL expression chain over helper columns
    * `len` (byte length, HUGEINT) `bs` (byte list, HUGEINT) `w8` (8-byte
    * little-endian word list, HUGEINT). */
  private def hashChain: Seq[(String, String)] = {
    val v1 = (Seed + P1 + P2) % M
    val v2 = (Seed + P2) % M
    val v3 = Seed % M
    val v4 = (Seed - P1 + M) % M
    val stripeItems =
      "list_transform(range(0, (len // 32)::BIGINT), " + {
        val s = fresh()
        s"$s -> [w8[4*$s+1], w8[4*$s+2], w8[4*$s+3], w8[4*$s+4]])"
      }
    val (sa, sx) = (fresh(), fresh())
    val stripeFold =
      s"list_reduce(list_prepend([${hl(v1)}, ${hl(v2)}, ${hl(v3)}, ${hl(v4)}], $stripeItems), " +
        s"($sa, $sx) -> [${round(s"$sa[1]", s"$sx[1]")}, ${round(s"$sa[2]", s"$sx[2]")}, " +
        s"${round(s"$sa[3]", s"$sx[3]")}, ${round(s"$sa[4]", s"$sx[4]")}])"
    val mergedAll = let(stripeFold) { st =>
      val h0 = add(add(rotl(s"$st[1]", 1), rotl(s"$st[2]", 7)),
                   add(rotl(s"$st[3]", 12), rotl(s"$st[4]", 18)))
      merge(merge(merge(merge(h0, s"$st[1]"), s"$st[2]"), s"$st[3]"), s"$st[4]")
    }
    val h0 = s"CASE WHEN len >= 32 THEN $mergedAll ELSE ${hl((Seed + P5) % M)} END"
    val h1 = add("h0", "len")
    val (ta, tw) = (fresh(), fresh())
    val tailWords = {
      val j = fresh()
      s"list_transform(range(((len // 32) * 4)::BIGINT, (len // 8)::BIGINT), $j -> w8[$j+1])"
    }
    val h2 =
      s"list_reduce(list_prepend(h1, $tailWords), " +
        s"($ta, $tw) -> ${add(mulC(rotl(xor(ta, mulC(rotl(mulC(tw, P2), 31), P1)), 27), P1), hl(P4))})"
    val w4 = "(bs[((len // 8)*8 + 1)::BIGINT] + bs[((len // 8)*8 + 2)::BIGINT]*256 + " +
             "bs[((len // 8)*8 + 3)::BIGINT]*65536 + bs[((len // 8)*8 + 4)::BIGINT]*16777216)"
    val h3 =
      s"CASE WHEN len % 8 >= 4 THEN ${add(mulC(rotl(xor("h2", mulC(w4, P1)), 23), P2), hl(P3))} ELSE h2 END"
    val (ba, bb) = (fresh(), fresh())
    val tailBytes = {
      val i = fresh()
      s"list_transform(range(((len // 8)*8 + (CASE WHEN len % 8 >= 4 THEN 4 ELSE 0 END))::BIGINT, len::BIGINT), $i -> bs[$i+1])"
    }
    val h4 =
      s"list_reduce(list_prepend(h3, $tailBytes), " +
        s"($ba, $bb) -> ${mulC(rotl(xor(ba, mulC(bb, P5)), 11), P1)})"
    val h5 = let("h4") { a =>
      let(mulC(xor(a, shr(a, 33)), P2)) { b =>
        let(mulC(xor(b, shr(b, 29)), P3)) { c => xor(c, shr(c, 32)) }
      }
    }
    Seq("h0" -> h0, "h1" -> h1, "h2" -> h2, "h3" -> h3, "h4" -> h4, "h" -> h5)
  }

  /** CTE chain computing one row per (doc_id, token-hash `h`) from
    * `fromSql` (a relation with columns doc_id, t). Shared with
    * [[DsirOracle]], which replays the same xxHash64 over n-gram features. */
  private[graft] def hashCtes(fromSql: String): String = {
    val i = fresh()
    val j = fresh()
    val prep =
      s"""__tok AS (SELECT doc_id, t, lower(hex(encode(t))) AS hx FROM $fromSql),
         |__tb AS (
         |  SELECT doc_id, (length(hx) // 2)::HUGEINT AS len,
         |    list_transform(range(0, length(hx) // 2), $i ->
         |      ((strpos('0123456789abcdef', substr(hx, (2*$i+1)::INT, 1)) - 1) * 16
         |       + strpos('0123456789abcdef', substr(hx, (2*$i+2)::INT, 1)) - 1)::HUGEINT) AS bs
         |  FROM __tok),
         |__tw AS (
         |  SELECT doc_id, len, bs,
         |    list_transform(range(0, (len // 8)::BIGINT), $j ->
         |      bs[8*$j+1] + bs[8*$j+2]*256 + bs[8*$j+3]*65536 + bs[8*$j+4]*16777216
         |      + bs[8*$j+5]*4294967296 + bs[8*$j+6]*1099511627776
         |      + bs[8*$j+7]*281474976710656 + bs[8*$j+8]*72057594037927936) AS w8
         |  FROM __tb)""".stripMargin
    val chain = hashChain
    val steps = chain.zipWithIndex.map { case ((name, expr), k) =>
      val src = if (k == 0) "__tw" else s"__s${k - 1}"
      s"__s$k AS (SELECT *, $expr AS $name FROM $src)"
    }
    (prep +: steps).mkString(",\n") + s",\n__hash AS (SELECT doc_id, h FROM __s${chain.size - 1})"
  }

  private def pow2Values: String =
    (0 until 64).map(b => s"($b, ${hl(BigInt(1) << b)})").mkString(", ")

  /** The full q16 oracle: near-dup pairs with hamming(simhash) <= maxHam. */
  def sql(maxHam: Int): String =
    s"""WITH ${hashCtes("(SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)")},
       |__p2(b, p) AS (VALUES $pow2Values),
       |__bits AS (
       |  SELECT doc_id, b, sum(CASE WHEN (h // p) % 2 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM __hash CROSS JOIN __p2 GROUP BY doc_id, b),
       |__sims AS (
       |  SELECT doc_id,
       |    (CASE WHEN s >= ${hl(BigInt(1) << 63)} THEN s - ${hl(M)} ELSE s END)::BIGINT AS sim
       |  FROM (SELECT doc_id, sum(CASE WHEN v > 0 THEN p ELSE 0::HUGEINT END) AS s
       |        FROM __bits JOIN __p2 USING (b) GROUP BY doc_id))
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM __sims a JOIN __sims b
       |  ON a.doc_id < b.doc_id AND bit_count(xor(a.sim, b.sim)) <= $maxHam
       |ORDER BY 1, 2""".stripMargin
}
