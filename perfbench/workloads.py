"""The maintenance workloads: setup, one closed-loop iteration, checks.

Each workload drives the engine's public API only and hands it generated
DataFrames. ``Run`` (run.py) owns timing, op accounting and tracing; a
workload calls ``run.op(kind, fn)`` for every timed engine call and
``run.check(name, ok)`` for every output check.
"""

from __future__ import annotations

import hashlib
import random
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import CompactionPolicy, TokenLakeTable
from hoopstat_haus_spark.lakehouse import manifest as mf
from hoopstat_haus_spark.lakehouse import merge as merge_mod
from hoopstat_haus_spark.lakehouse.zorder import with_zkey
from hoopstat_haus_spark.tables import synthetic, token_sig
from hoopstat_haus_spark.tables.token_table import token_expr

VOCAB = 50257
INGEST_CODEC = "snappy"  # create/append: what a fresh ingest leaves behind
MAINT_CODEC = "zstd"  # maintenance output; level 1 is the engine's session default


def set_codec(spark, codec: str) -> None:
    spark.conf.set("spark.sql.parquet.compression.codec", codec)


def digest(df) -> tuple[tuple[int, int, int], int]:
    """((rows, Σ low32(h), Σ high32(h)), raw payload bytes) with h =
    xxhash64(doc_id, token_sig): a multiset digest of (doc_id, tokens) that
    Spark sums without overflow, and the user's bytes (4 per int32 token
    plus the key and partition strings), in one scan."""
    h = F.xxhash64("doc_id", token_sig("tokens"))
    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo"),
        F.sum(F.shiftrightunsigned(h, 32)).alias("hi"),
        F.sum(F.size("tokens") * 4 + F.length("doc_id") + F.length("source")).alias("b"),
    ).collect()[0]
    return (int(r["n"]), int(r["lo"] or 0), int(r["hi"] or 0)), int(r["b"] or 0)


def live_bytes(tbl: TokenLakeTable) -> tuple[int, int]:
    """(file bytes, rows) of HEAD from the snapshot summary."""
    s = tbl.log.current().summary
    return int(s["bytes"]), int(s["rows"])


def doc_range(spark, lo: int, hi: int, source_col, parts: int = 4):
    """Closed-form rows for doc numbers [lo, hi), same token and n_tok
    formulas as ``synthetic``; ``source_col`` maps the doc_id column."""
    rng = spark.range(lo, hi, 1, parts)
    n_tok = (F.lit(8) + F.pmod(F.col("id") * F.lit(40503) + F.lit(17), F.lit(505))).cast("int")
    df = rng.select(
        F.format_string("doc-%010d", F.col("id")).alias("doc_id"),
        token_expr(F.col("id"), n_tok).alias("tokens"),
        n_tok.alias("n_tok"),
    )
    return df.withColumn("source", source_col(F.col("doc_id")))


class Workload:
    name = ""

    def __init__(self, run, seed: int):
        self.run = run
        self.spark = run.spark
        self.rng = random.Random(seed)

    def setup_once(self, dest: str) -> None:
        raise NotImplementedError

    def prepare(self, dest: str) -> None:
        """Untimed bookkeeping on the kept starting table."""

    def iteration(self, i: int) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        """Untimed: one iteration, so no timed op is the first of its kind."""
        self.iteration(0)

    def finish(self) -> None:
        """Output checks on the end state."""


# ----------------------------------------------------------------------
def _py_source(d: int) -> str:
    """synthetic()'s skewed source bucket, in Python."""
    p = 982451653
    bucket = ((d % p) * (2654435761 % p)) % p % 100
    lo = 0
    for name, w in (("web", 55), ("books", 25), ("code", 12), ("wiki", 6), ("forums", 2)):
        if bucket < lo + w:
            return name
        lo += w
    return "forums"


def _py_ntok(d: int) -> int:
    return 8 + (d * 40503 + 17) % 505


def _py_sig(tokens: list[int]) -> str:
    return hashlib.md5(",".join(map(str, tokens)).encode()).hexdigest()


def _py_tokens(d: int, n: int) -> list[int]:
    dr = d % VOCAB
    m = 2654435761 % VOCAB
    return [(dr * m + i * 40503) % VOCAB for i in range(n)]


class MergeRead(Workload):
    """A Z-order-clustered table of small files: setup hands ``create`` the
    synthetic rows already keyed by the engine's Z-order curve and range-
    partitioned on (source, key), so every file covers a disjoint key range
    of one partition, as compaction leaves it. The loop: seeded 32-key
    merge feeds (24 updates, 4 deletes, 4 inserts; 80% of update/delete keys
    from the newest 10% of doc_ids); before each merge 3 uniform point reads,
    after it 3 point reads of keys just merged and a narrow n_tok band scan."""

    name = "merge_read"
    N = 6_000
    FILES = 8
    N_UPD, N_DEL, N_INS = 24, 4, 4
    BAND = 5
    POINT_MERGED, POINT_UNIFORM = 3, 3
    WARM_READS = 6  # point reads keep speeding up for a while after the first

    def setup_once(self, dest: str) -> None:
        set_codec(self.spark, MAINT_CODEC)
        rows = (with_zkey(synthetic(self.spark, self.N), curve="zorder")
                .repartitionByRange(self.FILES, "source", mf.ZKEY_COL)
                .sortWithinPartitions("source", mf.ZKEY_COL))
        self.run.op("create", TokenLakeTable.create, self.spark, dest, rows)

    def prepare(self, dest: str) -> None:
        self.tbl = TokenLakeTable(self.spark, dest)
        self.alive = set(range(self.N))
        self.over: dict[int, tuple[str, int, str]] = {}  # num -> (source, n_tok, sig)
        self.next_num = self.N
        self.amp = [0.0, 0.0]  # merge data bytes written, feed rows x at-rest bytes per row
        # space of the starting table: the layout is seed-independent, while
        # which files each seeded merge happens to coalesce is not
        self.run.series["bytes_at_rest"] = [live_bytes(self.tbl)[0] / self.user_bytes()]

    def model(self, d: int) -> tuple[str, int, str]:
        """(source, n_tok, token_sig) of live doc ``d``."""
        if d in self.over:
            return self.over[d]
        n = _py_ntok(d)
        return _py_source(d), n, _py_sig(_py_tokens(d, n))

    def meta(self, d: int) -> tuple[str, int]:
        """(source, n_tok) of live doc ``d``, without the token digest."""
        o = self.over.get(d)
        return (o[0], o[1]) if o else (_py_source(d), _py_ntok(d))

    def feed(self):
        live = sorted(self.alive)
        newest = live[-max(1, len(live) // 10):]
        keys: set[int] = set()
        while len(keys) < self.N_UPD + self.N_DEL:
            pool = newest if self.rng.random() < 0.8 else live
            keys.add(pool[self.rng.randrange(len(pool))])
        keys_l = sorted(keys)
        self.rng.shuffle(keys_l)
        upd, dele = keys_l[: self.N_UPD], keys_l[self.N_UPD:]
        ins = list(range(self.next_num, self.next_num + self.N_INS))
        self.next_num += self.N_INS
        rows, after = [], {}
        for d in upd + ins:
            src = self.meta(d)[0] if d in self.alive else _py_source(d)
            toks = [self.rng.randrange(VOCAB) for _ in range(self.rng.randint(8, 512))]
            rows.append((f"doc-{d:010d}", toks, len(toks), src, "upsert"))
            after[d] = (src, len(toks), _py_sig(toks))
        for d in dele:
            rows.append((f"doc-{d:010d}", [], 0, self.meta(d)[0], "delete"))
        df = self.spark.createDataFrame(
            rows, "doc_id string, tokens array<int>, n_tok int, source string, _op string")
        return df, after, dele, upd + ins

    def warm_up(self) -> None:
        # merges keep speeding up over the first three: two warm-up merges
        # leave the measured ones on the flat part of that curve
        self.iteration(-1)
        self.iteration(0)
        self.point_reads(self.uniform(self.WARM_READS), {})

    def uniform(self, k: int) -> list[int]:
        live = sorted(self.alive)
        return [live[self.rng.randrange(len(live))] for _ in range(k)]

    def iteration(self, i: int) -> None:
        # half the point reads before the merge, half after, so one slow
        # second of the host does not hit them all
        self.point_reads(self.uniform(self.POINT_UNIFORM), {})
        df, after, dele, merged = self.feed()
        tbl = self.tbl
        src_of = {d: self.meta(d)[0] for d in dele}
        if self.run.tracing:
            self.trace_probe(df)
        at_rest, rows = live_bytes(tbl)
        set_codec(self.spark, MAINT_CODEC)
        _snap, m = self.run.op("merge", merge_mod.merge_into, tbl, df)
        # write amplification of the warm-up merges and the two measured
        # merges every run makes, together: one seeded feed varies too much
        if i <= 2:
            self.amp[0] += m.bytes_out
            self.amp[1] += (len(after) + len(dele)) * at_rest / rows
        if i == 2:
            self.run.record("write_amp", self.amp[0] / self.amp[1])
        self.over.update(after)
        self.alive.update(after)
        for d in dele:
            self.alive.discard(d)
            self.over.pop(d, None)
        self.point_reads(self.rng.sample(merged + dele, self.POINT_MERGED), src_of)
        lo = self.rng.randint(8, 512 - self.BAND)
        n = self.run.op("read_range",
                        lambda: self.tbl.scan(n_tok_min=lo, n_tok_max=lo + self.BAND).count())
        want_n = sum(1 for d in self.alive if lo <= self.meta(d)[1] <= lo + self.BAND)
        self.run.check("band_count", n == want_n)

    def point_reads(self, probes: list[int], src_of: dict[int, str]) -> None:
        """Point reads of ``probes``, checked against the model; a deleted
        key must read back empty."""
        tbl = self.tbl
        for d in probes:
            src = self.meta(d)[0] if d in self.alive else src_of[d]
            key = f"doc-{d:010d}"
            got = self.run.read("point", lambda: [tuple(r) for r in tbl.scan(sources=[src])
                                .filter(F.col("doc_id") == key)
                                .select("n_tok", token_sig("tokens")).collect()])
            want = [self.model(d)[1:]] if d in self.alive else []
            self.run.check("point_read", got == want)

    def trace_probe(self, df) -> None:
        """Files that really hold a feed key, by a skinny input_file_name
        scan outside the timed merge (the precision base for pruning)."""
        tbl = self.tbl
        keys = df.select("doc_id", "source")
        parts = [r[0] for r in keys.select("source").distinct().collect()]
        entries = [e for e in tbl.manifest_entries() if e["partition"] in parts]
        with_key = (tbl.scan(sources=parts).select("doc_id", "source")
                    .join(F.broadcast(keys), ["doc_id", "source"], "left_semi")
                    .select(F.input_file_name()).distinct().count())
        self.run.note("merge.files_in_touched_partitions", len(entries))
        self.run.note("merge.files_with_key", with_key)

    def user_bytes(self) -> int:
        """Raw payload bytes of the model's live rows."""
        return sum(4 * n + 14 + len(src) for src, n in map(self.meta, self.alive))

    def finish(self) -> None:
        (n, _lo, _hi), user = digest(self.tbl.scan())
        self.run.check("final_rows", n == len(self.alive))
        self.run.check("final_user_bytes", user == self.user_bytes())


# ----------------------------------------------------------------------
class ManyPartitionChurn(Workload):
    """N docs over S hash-bucket sources, one file per source. Each round:
    an append touching C seeded sources (half Hilbert, half Morton), a
    narrow delete_where on three of them, an update_where on 20 doc_ids of
    the batch, a targeted compact of the changed
    partitions, expire_snapshots(keep_last=3), collect_garbage(0); one
    appended partition is read back after each of the four data ops."""

    name = "many_partition_churn"
    N = 6_000
    S = 64
    APPEND = 1_000
    C = 4
    POLICY = CompactionPolicy(min_file_bytes=1 << 20, target_file_bytes=4 << 20,
                              max_file_bytes=8 << 20)
    DEL_BAND = 40
    WARM_READS = 8

    @classmethod
    def hashed_source(cls, doc_id):
        return F.format_string("s%03d", F.pmod(F.xxhash64(doc_id), F.lit(cls.S)))

    def setup_once(self, dest: str) -> None:
        set_codec(self.spark, INGEST_CODEC)
        base = doc_range(self.spark, 0, self.N, self.hashed_source).repartition(4, "source")
        self.run.op("create", TokenLakeTable.create, self.spark, dest, base)

    def prepare(self, dest: str) -> None:
        self.tbl = TokenLakeTable(self.spark, dest)
        self.next_num = self.N
        self.oracle = doc_range(self.spark, 0, self.N, self.hashed_source)
        self.sources = [f"s{i:03d}" for i in range(self.S)]
        # half the partitions cluster on Hilbert (Arrow kernel), half on Morton (JVM)
        self.curves = {src: "hilbert" for src in self.sources[::2]}

    def warm_up(self) -> None:
        # partition reads keep speeding up through the first round
        self.iteration(0)
        for src in self.rng.sample(self.sources, self.WARM_READS):
            self.read_partition(src)

    def iteration(self, i: int) -> None:
        tbl, run, spark = self.tbl, self.run, self.spark
        start = tbl.log.current_id()
        at_rest, rows = live_bytes(tbl)
        written = 0

        # the round's partitions: half on each curve, and the delete hits
        # three of them, so every round compacts the same mix of units
        half = self.C // 2
        chosen = sorted(self.rng.sample(self.sources[::2], half)
                        + self.rng.sample(self.sources[1::2], self.C - half))
        arr = F.array(*[F.lit(s) for s in chosen])

        def pick(doc_id, arr=arr):
            return F.element_at(arr, (F.pmod(F.xxhash64(doc_id, F.lit(1)), F.lit(self.C)) + 1)
                                .cast("int"))

        lo, hi = self.next_num, self.next_num + self.APPEND
        self.next_num = hi
        batch = doc_range(spark, lo, hi, pick)
        set_codec(spark, INGEST_CODEC)
        t_round = 0.0
        before = tbl.log.current().summary["bytes"]
        _s, wall = run.op("append", tbl.append, batch, with_wall=True)
        t_round += wall
        written += tbl.log.current().summary["bytes"] - before
        self.oracle = self.oracle.unionByName(doc_range(spark, lo, hi, pick))
        self.read_partition(chosen[0])

        set_codec(spark, MAINT_CODEC)
        dsrc = sorted(self.rng.sample(chosen, 3))
        b_lo = self.rng.randint(8, 512 - self.DEL_BAND)
        cond = (F.col("source").isin(dsrc) & (F.col("n_tok") >= b_lo)
                & (F.col("n_tok") <= b_lo + self.DEL_BAND))
        (snap, m), wall = run.op("delete", tbl.delete_where, cond, with_wall=True)
        t_round += wall
        changed_rows = self.APPEND
        if snap is not None:
            written += m.bytes_out
            changed_rows += snap.summary["matched_rows"]
        self.oracle = self.oracle.filter(~F.coalesce(cond, F.lit(False)))
        self.read_partition(chosen[1])

        # corrections land on recent data: ids from this round's batch
        ids = [f"doc-{self.rng.randrange(lo, hi):010d}" for _ in range(20)]
        k = i + 1
        new_tokens = F.transform("tokens", lambda x: ((x + F.lit(k)) % F.lit(VOCAB)).cast("int"))
        ucond = F.col("doc_id").isin(ids)
        (snap, m), wall = run.op("update", tbl.update_where, ucond, {"tokens": new_tokens},
                                 with_wall=True)
        t_round += wall
        if snap is not None:
            written += m.bytes_out
            changed_rows += snap.summary["matched_rows"]
        self.oracle = self.oracle.withColumn(
            "tokens", F.when(ucond, new_tokens).otherwise(F.col("tokens")))
        self.read_partition(chosen[2])

        changed = sorted(tbl.changed_partitions_since(start))
        (snap, m), wall = run.op("compact", tbl.compact, self.POLICY, sources=changed,
                                 curve_by_source=self.curves, with_wall=True)
        t_round += wall
        written += m.bytes_out
        run.record("gb_in", m.bytes_in / 1e9)
        run.note("compaction.bytes_in", m.bytes_in)
        run.note("compaction.bytes_out", m.bytes_out)
        _x, wall = run.op("expire", tbl.expire_snapshots, keep_last=3, with_wall=True)
        t_round += wall
        _x, wall = run.op("gc", tbl.collect_garbage, min_age_s=0, with_wall=True)
        t_round += wall
        run.record("round", t_round)
        run.record_state("write_amp", written / (changed_rows * at_rest / rows))
        self.read_partition(chosen[3])
        if run.needs_state("bytes_at_rest"):
            run.record_state("bytes_at_rest", live_bytes(tbl)[0] / digest(tbl.scan())[1])

    def read_partition(self, src: str) -> None:
        """Read back one partition the round appended to, between the
        round's ops; the manifest list's row count is the expected answer."""
        tbl = self.tbl
        (n, _lo, _hi), _user = self.run.read("partition", lambda: digest(tbl.scan(sources=[src])))
        recs = mf.read_manifest_list(tbl.path, tbl.log.current().manifest)
        self.run.check("rows_match_manifest",
                       n == next((r["row_count"] for r in recs if r["partition"] == src), None))

    def finish(self) -> None:
        tbl = self.tbl
        sids = tbl.log.list_ids()
        # independent read-only jobs: submitted together, Spark interleaves them
        with ThreadPoolExecutor(max_workers=4) as pool:
            got = pool.submit(lambda: digest(tbl.scan())[0])
            want = pool.submit(lambda: digest(self.oracle)[0])
            counts = [pool.submit(lambda sid=sid: tbl.scan(snapshot_id=sid).count()) for sid in sids]
            self.run.check("oracle_checksum", got.result() == want.result())
            for sid, n in zip(sids, counts):
                self.run.check("snapshot_rows", n.result() == tbl.log.get(sid).summary["rows"])


WORKLOADS = {w.name: w for w in (MergeRead, ManyPartitionChurn)}
