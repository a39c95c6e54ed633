"""Scaling headroom measurement: replicate sf0.1 inputs K× (shifted keys,
so join/dedup structure is preserved) and time the two headline plan
shapes — the flagship star join and MinHash-LSH near-dup detection —
at 1× and K×. Near-linear growth is the claim SCALE.md makes; this
script is how the numbers in its "measured scaling" table were produced.

Usage: python tools/stress.py [K]   (default K=10; writes nothing
outside /tmp, prints one JSON line)
"""

from __future__ import annotations

import json
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from etl_cnpjs_spark.catalog import table  # noqa: E402
from etl_cnpjs_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
KEY_STRIDE = 100_000_000


def replicate(df, key_cols: list[str], k: int):
    parts = []
    for i in range(k):
        p = df
        for c in key_cols:
            p = p.withColumn(c, F.col(c) + i * KEY_STRIDE)
        parts.append(p)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def timed(fn):
    t0 = time.time()
    n = fn()
    return round(time.time() - t0, 2), n


def flagship_shape(lineitem, orders, customer, nation, region):
    """Same star join + IN-lists as plans/relational.py::flagship."""
    return (
        lineitem.filter(F.col("l_partkey").isin(*range(1, 200, 4)))
        .join(orders.filter(F.col("o_orderstatus").isin("F", "P")),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer.filter(F.col("c_nationkey").isin(3, 7, 19))),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("l_orderkey", "l_extendedprice", "c_name", "n_name", "r_name")
    )


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("stress")
    tmp = tempfile.mkdtemp(prefix="stress_")

    li, od = table(spark, SF_DIR, "lineitem"), table(spark, SF_DIR, "orders")
    cu, na, re_ = (table(spark, SF_DIR, t) for t in ("customer", "nation", "region"))
    docs = table(spark, SF_DIR, "documents")

    # stage replicated inputs as parquet so scans (not the union plan)
    # feed the measurement, mirroring real table layout
    replicate(li, ["l_orderkey"], k).write.mode("overwrite").parquet(f"{tmp}/lineitem")
    replicate(od, ["o_orderkey"], k).write.mode("overwrite").parquet(f"{tmp}/orders")
    replicate(docs, ["doc_id"], k).write.mode("overwrite").parquet(f"{tmp}/documents")
    li_k = spark.read.parquet(f"{tmp}/lineitem")
    od_k = spark.read.parquet(f"{tmp}/orders")
    docs_k = spark.read.parquet(f"{tmp}/documents")

    from etl_cnpjs_spark.functions.text import shingles, tokens
    from etl_cnpjs_spark.operators.dedup import (
        candidate_pairs,
        exact_jaccard,
        minhash_band_keys,
    )

    def minhash_pairs(d):
        sh = (
            d.select("doc_id", shingles(tokens(F.col("text"))).alias("sh"))
            .filter(F.size("sh") > 0)
            .localCheckpoint()
        )
        signed = sh.select(
            "doc_id", "sh", minhash_band_keys("sh", 8, 2).alias("bk")
        ).localCheckpoint()
        cands = candidate_pairs(signed, "doc_id", "bk")
        return exact_jaccard(cands, signed, "doc_id", "sh").filter(
            F.col("jaccard") >= 0.8
        )

    # embedding LSH: replicate vectors with shifted ids (vectors
    # unchanged — every replica is an exact near-dup of its source, so
    # TRUE pairs grow ~k² per original pair; the banding bound is what
    # keeps wall time near-linear)
    emb = table(spark, SF_DIR, "embeddings")
    replicate(emb, ["vec_id"], k).write.mode("overwrite").parquet(f"{tmp}/embeddings")
    emb_k = spark.read.parquet(f"{tmp}/embeddings")

    from etl_cnpjs_spark.operators.similarity import embedding_lsh_pairs, vec_double

    def lsh_pairs(e, tau=0.4, bands=32, rows=2):
        v = e.select("vec_id", F.expr(vec_double("embedding")).alias("v"))
        return embedding_lsh_pairs(v, "vec_id", "v", tau, bands=bands, rows=rows)

    ev = table(spark, SF_DIR, "events")
    replicate(ev, ["user_id", "event_id"], k).write.mode("overwrite").parquet(f"{tmp}/events")
    ev_k = spark.read.parquet(f"{tmp}/events")

    from etl_cnpjs_spark.operators.relational import sessionize

    def q18_shape(l, o, c):
        big = (
            l.groupBy("l_orderkey")
            .agg(F.sum(F.col("l_quantity").cast("decimal(27,6)")).alias("q"))
            .filter(F.col("q") > 250)
            .select("l_orderkey")
        )
        return (
            c.join(o, c.c_custkey == o.o_custkey)
            .join(l, o.o_orderkey == l.l_orderkey)
            .join(big.withColumnRenamed("l_orderkey", "__bk"),
                  F.col("o_orderkey") == F.col("__bk"), "left_semi")
            .groupBy("c_custkey", "o_orderkey")
            .agg(F.sum(F.col("l_quantity").cast("decimal(27,6)")).alias("qty"))
        )

    t1, n1 = timed(lambda: flagship_shape(li, od, cu, na, re_).count())
    tk, nk = timed(lambda: flagship_shape(li_k, od_k, cu, na, re_).count())
    d1, m1 = timed(lambda: minhash_pairs(docs).count())
    dk, mk = timed(lambda: minhash_pairs(docs_k).count())
    g1, q1 = timed(lambda: q18_shape(li, od, cu).count())
    gk, qk = timed(lambda: q18_shape(li_k, od_k, cu).count())
    s1, e1 = timed(lambda: sessionize(ev, "user_id", "ts", "event_id", 21_600_000_000).count())
    sk, ek = timed(lambda: sessionize(ev_k, "user_id", "ts", "event_id", 21_600_000_000).count())
    l1, p1 = timed(lambda: lsh_pairs(emb).count())
    lk, pk = timed(lambda: lsh_pairs(emb_k).count())
    # production near-dup regime: high tau, long bands — replicas are
    # exact dups (cos = 1), so true pairs still grow ~k²/2 per vector
    h1, y1 = timed(lambda: lsh_pairs(emb, tau=0.9, bands=16, rows=8).count())
    hk, yk = timed(lambda: lsh_pairs(emb_k, tau=0.9, bands=16, rows=8).count())

    # decontamination: benchmark n-grams broadcast, corpus screened
    # scan-side. Replication multiplies BOTH sides ~k×, so candidate
    # matches grow ~k² per shared shingle family — the banding-free
    # stress case for the broadcast screen.
    def decontaminate(d):
        sh = (
            d.select("doc_id", shingles(tokens(F.col("text"))).alias("sh"))
            .filter(F.size("sh") > 0)
        )
        e = sh.select("doc_id", F.explode("sh").alias("s"))
        bench = e.filter(F.col("doc_id") % 13 == 0).select(
            F.col("doc_id").alias("bench_id"), F.col("s").alias("bs")
        )
        return (
            e.filter(F.col("doc_id") % 13 != 0)
            .join(F.broadcast(bench), F.col("s") == F.col("bs"))
            .groupBy("doc_id")
            .agg(F.countDistinct("bench_id").alias("nb"))
        )

    def pack(d):
        from pyspark.sql import Window as W

        t = d.select("doc_id", "lang", F.size(tokens(F.col("text"))).alias("n"))
        w = W.partitionBy("lang").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
        o = t.withColumn("off", F.coalesce(F.sum("n").over(w), F.lit(0)))
        return o.groupBy("lang", F.expr("off div 512").alias("seq")).agg(
            F.count(F.lit(1)).alias("nd")
        )

    # stop-shingle posting join: replication multiplies every shingle's
    # document frequency by k, so at k=10 most of the head crosses the
    # df≤64 cap and is dropped BEFORE candidate generation — the bounded
    # candidate volume is the claim under stress. (Pairs whose entire
    # overlap goes over-cap are lost by design; the pair counts report
    # that honestly.)
    def stopshingle_pairs(d):
        from pyspark.sql import Window as W

        sh = (
            d.select("doc_id", shingles(tokens(F.col("text"))).alias("sh"))
            .filter(F.size("sh") > 0)
            .localCheckpoint()
        )
        e = sh.select("doc_id", F.explode("sh").alias("s"))
        ek = (
            e.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("s")))
            .filter(F.col("df") <= 64)
            .drop("df")
        )
        a, b = ek.alias("a"), ek.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.s") == F.col("b.s"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("i"), F.col("b.doc_id").alias("j"))
            .distinct()
        )
        return exact_jaccard(cand, sh, "doc_id", "sh").filter(
            F.col("jaccard") >= 0.8
        )

    # bigram-LM scoring (text_lm_score shape): replication leaves the
    # VOCABULARY unchanged (every replica emits the same bigrams), so the
    # model frame stays constant-size while the scored postings grow k× —
    # exactly the bounded-model production regime the plan's broadcast
    # presumes. Near-linear wall is the claim.
    def lm_score(d):
        toks = tokens(F.col("text"))
        n1 = F.greatest(F.size(toks) - 1, F.lit(0))
        make = F.zip_with(
            F.slice(toks, 1, n1), F.slice(toks, 2, n1),
            lambda a, b: F.concat_ws(" ", a, b),
        )
        bigrams = F.when(F.size(toks) >= 2, make).otherwise(
            F.array().cast("array<string>")
        )
        bg = d.select("doc_id", F.explode(bigrams).alias("bigram"))
        cb = (
            bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("cb")).localCheckpoint()
        )
        cp = (
            cb.withColumn("prev", F.substring_index(F.col("bigram"), " ", 1))
            .groupBy("prev")
            .agg(F.sum("cb").alias("cp"))
        )
        return (
            bg.join(F.broadcast(cb), "bigram")
            .join(
                F.broadcast(cp),
                F.substring_index(F.col("bigram"), " ", 1) == F.col("prev"),
            )
            .select("doc_id", F.expr("cb * 1000000000L DIV cp").alias("q9"))
            .groupBy("doc_id")
            .agg(F.expr("sum(q9) DIV count(1)").alias("lm_q9"))
        )

    # across-document duplicated-span fraction (text_dup_span_frac
    # shape): one count window over hash(shingle). Replication multiplies
    # every posting list by k — the window partitions grow k× but the
    # work stays Σ|postings|, not Σ|postings|².
    def dup_span_frac(d):
        from pyspark.sql import Window as W

        sh = d.select("doc_id", shingles(tokens(F.col("text"))).alias("sh")).filter(
            F.size("sh") > 0
        )
        e = sh.select("doc_id", F.explode("sh").alias("s"))
        dfc = e.withColumn("__df", F.count(F.lit(1)).over(W.partitionBy("s")))
        return dfc.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("__df") >= 2, 1).otherwise(0)).alias("nd"),
        )

    # interval-overlap join (join_interval_overlap shape), on integer-day
    # interval frames. Growth axis = MORE HISTORY: each replica shifts its
    # intervals by i×10 000 days, so the time range (and bin count) grows
    # k× while per-bin density stays constant — the realistic scale-up for
    # time-interval data, under which bin blocking is linear. (Replicating
    # WITHOUT the shift would k²-grow pairs inside each bin — that regime
    # is corpus-density growth, same class as the LSH corpus point above.)
    def interval_frames(k_reps: int):
        o = table(spark, SF_DIR, "orders").filter(F.col("o_orderkey") % 17 == 0)
        li2 = table(spark, SF_DIR, "lineitem").withColumn(
            "b_id", F.col("l_orderkey") * 10 + F.col("l_linenumber")
        ).filter(F.col("b_id") % 3 == 0)
        epoch = F.lit("1992-01-01").cast("date")
        a0 = o.select(
            F.col("o_orderkey").alias("a_id"),
            F.datediff(F.col("o_orderdate"), epoch).alias("a_start"),
            (F.datediff(F.col("o_orderdate"), epoch) + 1 + F.col("o_orderkey") % 14).alias("a_end"),
        )
        b0 = li2.select(
            "b_id",
            F.datediff(F.col("l_shipdate"), epoch).alias("b_start"),
            (F.datediff(F.col("l_shipdate"), epoch) + 1 + F.col("l_linenumber")).alias("b_end"),
        ).distinct()
        def shift(df, ks, day_cols):
            parts = []
            for i in range(k_reps):
                p = df
                for c in ks:
                    p = p.withColumn(c, F.col(c) + i * KEY_STRIDE)
                for c in day_cols:
                    p = p.withColumn(c, F.col(c) + i * 10_000)
                parts.append(p)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out
        if k_reps == 1:
            return a0, b0
        return (
            shift(a0, ["a_id"], ["a_start", "a_end"]),
            shift(b0, ["b_id"], ["b_start", "b_end"]),
        )

    def interval_overlap(a, b, bin_days=16):
        def binned(df, start, end):
            return df.withColumn(
                "__bin",
                F.explode(
                    F.sequence(
                        F.expr(f"{start} DIV {bin_days}"),
                        F.expr(f"({end} - 1) DIV {bin_days}"),
                    )
                ),
            )
        return (
            binned(a, "a_start", "a_end")
            .join(binned(b, "b_start", "b_end"), ["__bin"])
            .filter(
                (F.col("a_start") < F.col("b_end"))
                & (F.col("b_start") < F.col("a_end"))
            )
            .select("a_id", "b_id")
            .distinct()
        )

    x1, c1 = timed(lambda: decontaminate(docs).count())
    xk, ck = timed(lambda: decontaminate(docs_k).count())
    w1, a1 = timed(lambda: stopshingle_pairs(docs).count())
    wk, ak = timed(lambda: stopshingle_pairs(docs_k).count())
    z1, b1 = timed(lambda: pack(docs).count())
    zk, bk = timed(lambda: pack(docs_k).count())
    m1t, mr1 = timed(lambda: lm_score(docs).count())
    mkt, mrk = timed(lambda: lm_score(docs_k).count())
    u1, ur1 = timed(lambda: dup_span_frac(docs).count())
    uk, urk = timed(lambda: dup_span_frac(docs_k).count())
    ia1, ib1 = interval_frames(1)
    iak, ibk = interval_frames(k)
    v1, vr1 = timed(lambda: interval_overlap(ia1, ib1).count())
    vk, vrk = timed(lambda: interval_overlap(iak, ibk).count())

    # point-in-interval (join_point_in_interval shape): same more-history
    # growth axis as the overlap join, but the point side NEVER explodes —
    # expectation: wall ~linear in |points|, output exactly k×.
    def point_frames(k_reps: int):
        a, b = interval_frames(k_reps)
        pts = b.select(F.col("b_id").alias("p_id"), F.col("b_start").alias("p_day"))
        return pts, a

    def point_in_interval(pts, iv, bin_days=16):
        ivb = iv.filter(F.col("a_end") > F.col("a_start")).withColumn(
            "__bin",
            F.explode(
                F.sequence(
                    F.expr(f"a_start DIV {bin_days}"),
                    F.expr(f"(a_end - 1) DIV {bin_days}"),
                )
            ),
        )
        ptb = pts.withColumn("__bin", F.expr(f"p_day DIV {bin_days}"))
        return (
            ptb.join(ivb, ["__bin"])
            .filter((F.col("a_start") <= F.col("p_day")) & (F.col("p_day") < F.col("a_end")))
            .select("p_id", "a_id")
        )

    pp1, pa1 = point_frames(1)
    ppk, pak = point_frames(k)
    pt1, pr1 = timed(lambda: point_in_interval(pp1, pa1).count())
    ptk, prk = timed(lambda: point_in_interval(ppk, pak).count())

    # Count-Min build (agg_countmin shape): the claim is the OPPOSITE of
    # linear growth — the exchange carries ≤ depth·width cells per task
    # whatever the input, so k× events should be ~scan-cost only.
    def cms(e):
        P, W_, H = 1_000_003, 256, [(433, 17), (389, 251), (911, 643), (607, 89)]
        cells = F.array(
            *[
                F.struct(
                    F.lit(d).alias("depth"),
                    (((F.col("user_id") * a + b) % P) % W_).alias("bucket"),
                )
                for d, (a, b) in enumerate(H)
            ]
        )
        return (
            e.select(F.explode(cells).alias("c"))
            .groupBy("c.depth", "c.bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    cm1, cr1 = timed(lambda: cms(ev).count())
    cmk, crk = timed(lambda: cms(ev_k).count())

    # label propagation (graph_label_propagation shape), 2 fused
    # iterations: key-shifted replication preserves component structure
    # (k disjoint copies), so edges, labels and per-iteration shuffles all
    # grow exactly k× — expectation: near-linear wall.
    def lpa_frames(k_reps: int):
        li3 = table(spark, SF_DIR, "lineitem")
        fwd = li3.select(
            F.col("l_partkey").alias("u"),
            (F.lit(1_000_000) + F.col("l_suppkey")).alias("v"),
        )
        if k_reps > 1:
            fwd = replicate(fwd, ["u", "v"], k_reps)
        rev = fwd.select(F.col("v").alias("u"), F.col("u").alias("v"))
        return fwd.unionByName(rev).distinct().localCheckpoint()

    def lpa(edges):
        labels = edges.select(F.col("u").alias("node")).distinct().select(
            "node", F.col("node").alias("label")
        )
        for _ in range(2):
            cnt = (
                edges.join(F.broadcast(labels), edges.u == F.col("node"))
                .groupBy(F.col("v"), F.col("label"))
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
            labels = (
                cnt.groupBy(F.col("v").alias("node"))
                .agg(F.max_by(F.col("label"), F.col("cnt") * 10_000_000 - F.col("label")).alias("label"))
                .localCheckpoint()
            )
        return labels

    le1 = lpa_frames(1)
    lek = lpa_frames(k)
    lp1, lr1 = timed(lambda: lpa(le1).count())
    lpk, lrk = timed(lambda: lpa(lek).count())

    # sufficient-statistics aggregate (agg_linreg / agg_corr_matrix
    # shape): group keys don't grow under replication, so the exchange
    # carries |groups| rows at any k — expectation: ~scan-cost growth.
    def suffstats(l):
        q = l.select(
            "l_returnflag",
            F.floor(F.col("l_quantity") * 100 + 0.5).cast("bigint").alias("xs"),
            F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint").alias("ys"),
        )
        dec = "decimal(38,0)"
        return q.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("xs").cast(dec)).alias("sx"),
            F.sum(F.col("ys").cast(dec)).alias("sy"),
            F.sum((F.col("xs") * F.col("xs")).cast(dec)).alias("sxx"),
            F.sum((F.col("xs") * F.col("ys")).cast(dec)).alias("sxy"),
            F.sum((F.col("ys") * F.col("ys")).cast(dec)).alias("syy"),
        )

    ss1, sr1 = timed(lambda: suffstats(li).count())
    ssk, srk = timed(lambda: suffstats(li_k).count())

    # nearest-direction as-of (join_asof_nearest shape): replication is
    # per-user disjoint, so the single user_id window exchange grows k×
    # with no per-partition blowup — expectation: near-linear.
    def asof_nearest(e):
        from pyspark.sql import Window as W

        pr = e.filter(F.col("event_type") == "purchase")
        p = (
            pr.select(
                "user_id", "ts", "event_id",
                F.row_number().over(
                    W.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
                ).alias("rn"),
            ).filter(F.col("rn") == 1).drop("rn")
        )
        clicks = e.filter(F.col("event_type") == "click").select(
            "user_id", "ts", F.lit(0).alias("kind"), "event_id",
            F.lit(None).cast("long").alias("p_id"),
        )
        purch = p.select(
            "user_id", "ts", F.lit(1).alias("kind"), "event_id",
            F.col("event_id").alias("p_id"),
        )
        u = clicks.unionAll(purch)
        order = [F.col("ts"), F.col("kind").desc(), F.col("event_id")]
        wb = W.partitionBy("user_id").orderBy(*order).rowsBetween(
            W.unboundedPreceding, W.currentRow
        )
        order_desc = [F.col("ts").desc(), F.col("kind"), F.col("event_id").desc()]
        wfd = W.partitionBy("user_id").orderBy(*order_desc).rowsBetween(
            W.unboundedPreceding, -1
        )
        p_ts = F.when(F.col("kind") == 1, F.col("ts"))
        w = u.select(
            "kind",
            F.last(p_ts, ignorenulls=True).over(wb).alias("back_ts"),
            F.last(p_ts, ignorenulls=True).over(wfd).alias("fwd_ts"),
        )
        return w.filter(F.col("kind") == 0)

    an1, ar1 = timed(lambda: asof_nearest(ev).count())
    ank, ark = timed(lambda: asof_nearest(ev_k).count())

    # bucket downsampling (events_downsample_bucket shape): replication
    # keeps (event_type, bucket) grain fixed, so OUTPUT stays constant
    # while input grows k× — the claim is output-bound invariance.
    def downsample(e):
        from pyspark.sql import Window as W

        bucket = (F.unix_timestamp("ts") / 900).cast("bigint") * 900
        wlo = W.partitionBy("event_type", bucket).orderBy("value", "event_id")
        whi = W.partitionBy("event_type", bucket).orderBy(
            F.desc("value"), F.desc("event_id")
        )
        r = e.select(
            "event_type", bucket.alias("bucket_s"), "event_id", "value",
            F.row_number().over(wlo).alias("rn_lo"),
            F.row_number().over(whi).alias("rn_hi"),
        )
        return r.filter((F.col("rn_lo") == 1) | (F.col("rn_hi") == 1))

    dbs1, dbr1 = timed(lambda: downsample(ev).count())
    dbsk, dbrk = timed(lambda: downsample(ev_k).count())

    # grid radius join (join_spatial_grid shape): growth axis = MORE
    # TERRITORY — each replica shifts x by i×1.0 (≫ the coordinate range),
    # so per-cell density stays constant and pairs grow exactly k×.
    # (Replicating WITHOUT the shift is density growth: k² pairs per
    # cell — the regime the hot-cell cap-and-salt note addresses.)
    def spatial_frames(k_reps: int):
        p0 = table(spark, SF_DIR, "embeddings").select(
            "vec_id",
            F.col("embedding").getItem(0).cast("double").alias("x"),
            F.col("embedding").getItem(1).cast("double").alias("y"),
        )
        parts = []
        for i in range(k_reps):
            parts.append(
                p0.select(
                    (F.col("vec_id") + i * KEY_STRIDE).alias("vec_id"),
                    (F.col("x") + F.lit(float(i))).alias("x"),
                    "y",
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def spatial_pairs(p, r=0.02):
        cell = F.lit(r)
        g = p.select(
            "*",
            F.floor(F.col("x") / cell).cast("bigint").alias("cx"),
            F.floor(F.col("y") / cell).cast("bigint").alias("cy"),
        )
        a = g.select(
            F.col("vec_id").alias("a_id"), F.col("x").alias("ax"),
            F.col("y").alias("ay"),
            F.explode(F.expr("array(cx - 1, cx, cx + 1)")).alias("jx"), "cy",
        ).select(
            "a_id", "ax", "ay", "jx",
            F.explode(F.expr("array(cy - 1, cy, cy + 1)")).alias("jy"),
        )
        b = g.select(
            F.col("vec_id").alias("b_id"), F.col("x").alias("bx"),
            F.col("y").alias("by"),
            F.col("cx").alias("jx"), F.col("cy").alias("jy"),
        )
        d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
            F.col("ay") - F.col("by")
        ) * (F.col("ay") - F.col("by"))
        return (
            a.join(b, ["jx", "jy"])
            .filter(F.col("a_id") < F.col("b_id"))
            .filter(d2 < F.lit(r * r))
        )

    sp1f = spatial_frames(1).localCheckpoint()
    spkf = spatial_frames(k).localCheckpoint()
    sp1, spr1 = timed(lambda: spatial_pairs(sp1f).count())
    spk, sprk = timed(lambda: spatial_pairs(spkf).count())

    print(json.dumps({
        "k": k,
        "flagship_1x_sec": t1, "flagship_kx_sec": tk, "flagship_ratio": round(tk / t1, 1),
        "flagship_rows": [n1, nk],
        "minhash_1x_sec": d1, "minhash_kx_sec": dk, "minhash_ratio": round(dk / d1, 1),
        "minhash_pairs": [m1, mk],
        "q18_1x_sec": g1, "q18_kx_sec": gk, "q18_ratio": round(gk / g1, 1),
        "q18_rows": [q1, qk],
        "sessionize_1x_sec": s1, "sessionize_kx_sec": sk, "sessionize_ratio": round(sk / s1, 1),
        "sessionize_rows": [e1, ek],
        "emb_lsh_1x_sec": l1, "emb_lsh_kx_sec": lk, "emb_lsh_ratio": round(lk / l1, 1),
        "emb_lsh_pairs": [p1, pk],
        "emb_lsh_hi_1x_sec": h1, "emb_lsh_hi_kx_sec": hk,
        "emb_lsh_hi_ratio": round(hk / h1, 1), "emb_lsh_hi_pairs": [y1, yk],
        "decontaminate_1x_sec": x1, "decontaminate_kx_sec": xk,
        "decontaminate_ratio": round(xk / x1, 1), "decontaminate_flagged": [c1, ck],
        "pack_1x_sec": z1, "pack_kx_sec": zk,
        "pack_ratio": round(zk / z1, 1), "pack_sequences": [b1, bk],
        "stopshingle_1x_sec": w1, "stopshingle_kx_sec": wk,
        "stopshingle_ratio": round(wk / w1, 1), "stopshingle_pairs": [a1, ak],
        "lm_score_1x_sec": m1t, "lm_score_kx_sec": mkt,
        "lm_score_ratio": round(mkt / m1t, 1), "lm_score_rows": [mr1, mrk],
        "dup_span_1x_sec": u1, "dup_span_kx_sec": uk,
        "dup_span_ratio": round(uk / u1, 1), "dup_span_rows": [ur1, urk],
        "interval_1x_sec": v1, "interval_kx_sec": vk,
        "interval_ratio": round(vk / v1, 1), "interval_pairs": [vr1, vrk],
        "point_interval_1x_sec": pt1, "point_interval_kx_sec": ptk,
        "point_interval_ratio": round(ptk / pt1, 1), "point_interval_rows": [pr1, prk],
        "cms_1x_sec": cm1, "cms_kx_sec": cmk,
        "cms_ratio": round(cmk / cm1, 1), "cms_cells": [cr1, crk],
        "lpa_1x_sec": lp1, "lpa_kx_sec": lpk,
        "lpa_ratio": round(lpk / lp1, 1), "lpa_nodes": [lr1, lrk],
        "suffstats_1x_sec": ss1, "suffstats_kx_sec": ssk,
        "suffstats_ratio": round(ssk / ss1, 1), "suffstats_groups": [sr1, srk],
        "asof_nearest_1x_sec": an1, "asof_nearest_kx_sec": ank,
        "asof_nearest_ratio": round(ank / an1, 1), "asof_nearest_rows": [ar1, ark],
        "downsample_1x_sec": dbs1, "downsample_kx_sec": dbsk,
        "downsample_ratio": round(dbsk / dbs1, 1), "downsample_rows": [dbr1, dbrk],
        "spatial_1x_sec": sp1, "spatial_kx_sec": spk,
        "spatial_ratio": round(spk / sp1, 1), "spatial_pairs": [spr1, sprk],
    }))


if __name__ == "__main__":
    main()
