"""The two workloads and their output checks.

Both run the same timed life cycle over a different corpus and a
different construction path:

1. build: input table -> committed triple + adjacency tables;
2. export: RDF/XML shards of the committed triple table, sharded by
   ``subj_bucket`` after asserting ``validate_bnode_locality == 0``;
3. serve: a closed loop, one client, an unweighted mix of reads over
   Zipf-skewed entity, conversation and mention subjects of the
   committed tables.

``kg_build`` takes the production path (``run_checkpointed``) over the
program's small default gazetteer, so canonicalization stays on its
driver-local path.  ``kg_many_entities`` plants 2,400 distinct surfaces
(above the 2,000-surface local threshold) and, because no entry point
accepts a gazetteer, calls the layer functions in ``run_pipeline``'s
order; the distributed MinHash-LSH + connected-components path and the
large matcher do most of its work.

Every layer function is reached through its module attribute, so the
traced run's wrappers see the calls.
"""

from __future__ import annotations

import collections
import math
import os
import random
import re
import shutil
import time
from dataclasses import dataclass, field

import gen

CORPORA = {
    # name: (conversations, turns per conversation, generated entities)
    "kg_build": (600, 10, 0),
    "kg_many_entities": (300, 10, 800),
}
WARMUP_CONVS = 12
TABLE_BUCKETS = 16      # run_checkpointed's default table_buckets
CKPT_BUCKETS = 2        # run_checkpointed's n_buckets, see README.md
# One cycle of the request schedule.  No measured or published read
# traffic exists for these tables, so the mix is an assumption and is
# unweighted: each operation takes a third of the requests, and
# descriptions and find_labels go to entity, conversation and mention
# subjects in equal shares.  The object-bound pattern (?c kg:mentions
# <entity>) only takes an entity.  The cycle is fixed, so every seed
# serves the same op mix; the seed picks the subjects.
REQUEST_CYCLE = (
    ("describe", "entity"), ("labels", "entity"), ("mentions_of", "entity"),
    ("describe", "conversation"), ("labels", "conversation"),
    ("mentions_of", "entity"),
    ("describe", "mention"), ("labels", "mention"), ("mentions_of", "entity"),
)


def pkg():
    """The program's modules, imported after the session environment is
    set (importing the package starts nothing)."""
    import importlib

    names = ("kg.pipeline", "kg.extract", "kg.canonicalize",
             "kg.materialize", "sinks.rdfxml_sink", "operators.graph_ops",
             "rdfxml.serializer", "rdfxml.parser", "model")
    return {n.split(".")[-1]: importlib.import_module(
        "meresco_rdf_spark." + n) for n in names}


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok


@dataclass
class Workload:
    name: str
    seed: int
    work: str                   # private directory in the checkout
    corpus: gen.Corpus = None
    aliases: list = None

    # -- set-up ----------------------------------------------------------
    def make_input(self) -> None:
        """Seeded input and warm-up corpora, written as parquet."""
        n_convs, turns, n_entities = CORPORA[self.name]
        if n_entities:
            self.aliases = [a for variants in gen.entity_aliases(
                self.seed, n_entities) for a in variants]
        else:
            self.aliases = list(gen.DEFAULT_ALIASES)
        self.corpus = gen.make_corpus(self.seed, n_convs, turns, self.aliases)
        gen.write_parquet(self.corpus.rows, self.path("input"))
        warm = gen.make_corpus(self.seed + 1, WARMUP_CONVS, turns,
                               self.aliases, conv_offset=10 ** 7)
        gen.write_parquet(warm.rows, self.path("warmup_input"))

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def warm_up(self, spark) -> int:
        """Mention detection, triple fan-out and RDF/XML serialization on
        the small warm-up corpus: starts the Python workers the timed
        phase's Arrow stages reuse and loads the serializer in them.  It
        does not warm the build itself: the builds are bound by per-job
        overhead, not data, so a warm-up build would cost as much as the
        timed one."""
        from pyspark.sql import functions as F

        ex, sink = pkg()["extract"], pkg()["rdfxml_sink"]
        inp = spark.read.parquet(self.path("warmup_input"))
        triples = ex.mention_triples(
            ex.detect_mentions(inp, aliases=self.aliases))
        triples = triples.withColumn(
            "shard", F.pmod(F.xxhash64("subj"), F.lit(4)).cast("string"))
        return sink.serialize_shards(triples, shard_col="shard").count()

    # -- timed steps -------------------------------------------------------
    def build(self, spark, input_name: str, out: str) -> dict:
        """input table -> committed ``triples`` + ``adjacency`` tables."""
        m = pkg()
        if os.path.exists(out):
            shutil.rmtree(out)
        inp = spark.read.parquet(self.path(input_name))
        if self.name == "kg_build":
            return m["pipeline"].run_checkpointed(
                spark, inp, out, n_buckets=CKPT_BUCKETS,
                table_buckets=TABLE_BUCKETS)
        ex, cn, mat = m["extract"], m["canonicalize"], m["materialize"]
        mentions = ex.detect_mentions(inp, aliases=self.aliases).persist()
        mentions.count()
        canon = cn.canonical_surface_map(
            mentions.select("surface_key").dropDuplicates(["surface_key"])
        ).persist()
        canon.count()
        triples = ex.pipeline_triples(mentions, canon)
        mat.write_triple_table(triples, os.path.join(out, "triples"),
                               buckets=TABLE_BUCKETS)
        mat.write_adjacency_table(triples, os.path.join(out, "adjacency"),
                                  buckets=TABLE_BUCKETS)
        mentions.unpersist()
        canon.unpersist()
        return {}

    def export(self, spark, out: str, tally: Tally) -> bool:
        """RDF/XML shards of the committed triple table, one per
        ``subj_bucket`` (cast to string: the sink types shard keys as
        strings)."""
        from pyspark.sql import functions as F

        sink = pkg()["rdfxml_sink"]
        table = spark.read.parquet(os.path.join(out, "triples")).withColumn(
            "subj_bucket", F.col("subj_bucket").cast("string"))
        crossing = sink.validate_bnode_locality(table, "subj_bucket")
        if not tally.check(crossing == 0,
                           "%d bnodes cross subj_bucket shards" % crossing):
            return False
        sink.write_rdfxml_shards(table, os.path.join(out, "rdfxml"),
                                 shard_col="subj_bucket")
        return True


# ---------------------------------------------------------------------------
# output checks (untimed)
# ---------------------------------------------------------------------------

@dataclass
class Summary:
    """One pass over a committed triple table, per subject."""
    rows: int
    bucket: dict        # subject -> subj_bucket
    names: dict         # subject -> its foaf:name values
    sameas: dict        # surface uri -> canonical uri (owl:sameAs rows)
    bnode_rows: list    # row count of each mention bnode
    surfaces: dict      # kg:surface value -> its row count


def read_table(out: str, name: str, columns: list):
    """A committed table read straight from its parquet files (hive
    partitions become columns), without a Spark job."""
    import pyarrow.dataset as ds

    return ds.dataset(os.path.join(out, name), format="parquet",
                      partitioning="hive").to_table(columns=columns)


def summarize(out: str) -> Summary:
    ex = pkg()["extract"]
    table = read_table(out, "triples",
                       ["subj", "pred", "obj_value", "subj_bucket"])
    subj, pred, obj, bucket = (table.column(c).to_pylist()
                               for c in table.column_names)
    per_subject = collections.Counter(subj)
    names, sameas = {}, {}
    surfaces = collections.Counter()
    for s, p, o in zip(subj, pred, obj):
        if p == ex.FOAF_NAME:
            names.setdefault(s, []).append(o)
        elif p == ex.OWL_SAMEAS:
            sameas[s] = max(sameas.get(s, o), o)
        elif p == ex.KG_SURFACE:
            surfaces[o] += 1
    return Summary(
        rows=len(subj),
        bucket=dict(zip(subj, bucket)),
        names=names,
        sameas=sameas,
        bnode_rows=[n for s, n in per_subject.items() if s.startswith("_:")],
        surfaces=dict(surfaces))


# The canonicalizer's contract, recomputed without the program: two
# surface keys are similar when the sets of 3-character shingles of
# " <key> " have Jaccard >= 0.5, and a surface may only be merged into
# the least key of its connected component over similar pairs.
# MinHash-LSH can miss a pair but never adds one, so the program's
# components refine these.
SHINGLE_N = 3
JACCARD = 0.5
SURFACE_URI_PREFIX = "urn:surface:"
# Floor on the program's merges as a share of the exact ones, for seeds
# with no recorded count.  At the commit that added the benchmark the
# share was 1 on kg_build (exact driver-local path) and at least 0.997
# on kg_many_entities (MinHash-LSH with 16 bands of 2 rows misses a pair
# at Jaccard 0.5 with probability 0.75 ** 16 = 1%).
MIN_MERGE_SHARE = 0.99


def surface_key(surface: str) -> str:
    return re.sub(r"[^a-z0-9]+", " ", surface.lower()).strip()


def _shingles(key: str) -> frozenset:
    padded = " %s " % key
    if len(padded) <= SHINGLE_N:
        return frozenset([padded])
    return frozenset(padded[i:i + SHINGLE_N]
                     for i in range(len(padded) - SHINGLE_N + 1))


def exact_components(keys: list) -> dict:
    """key -> least key of its component over exact-Jaccard pairs.

    All pairs are found with prefix filtering: under one global shingle
    order, two sets with Jaccard >= t share a shingle among the first
    ``len - ceil(t * len) + 1`` of each."""
    keys = sorted(keys)
    sets = [_shingles(k) for k in keys]
    freq = collections.Counter(sh for s in sets for sh in s)
    parent = list(range(len(keys)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    index = collections.defaultdict(list)
    for i, s in enumerate(sets):
        prefix = sorted(s, key=lambda sh: (freq[sh], sh))[
            :len(s) - math.ceil(JACCARD * len(s)) + 1]
        for j in {j for sh in prefix for j in index[sh]}:
            inter = len(s & sets[j])
            if inter >= JACCARD * (len(s) + len(sets[j]) - inter):
                a, b = find(i), find(j)
                parent[max(a, b)] = min(a, b)
        for sh in prefix:
            index[sh].append(i)
    return {k: keys[find(i)] for i, k in enumerate(keys)}


def check_canonical(corpus: gen.Corpus, summary: Summary, tally: Tally,
                    merge_floor: int | None) -> dict:
    """Every owl:sameAs merge is backed by a chain of similar pairs
    among the planted surfaces and points at its component's least key,
    and there are at least ``merge_floor`` merges (the count recorded
    for this seed) or else ``MIN_MERGE_SHARE`` of the exact ones."""
    comp = exact_components({surface_key(s) for s in corpus.planted})
    exact = len(comp) - len(set(comp.values()))
    merged = {_uri_key(s): _uri_key(c) for s, c in summary.sameas.items()}
    unbacked = sorted(
        (s, c) for s, c in merged.items()
        if not (s in comp and c in comp and comp[s] == comp[c] and c < s
                and c not in merged))
    tally.check(not unbacked,
                "%d owl:sameAs merges are not backed by similar surfaces, "
                "e.g. %s" % (len(unbacked), unbacked[:3]))
    if merge_floor is None:
        merge_floor = math.ceil(MIN_MERGE_SHARE * exact)
    tally.check(len(merged) >= merge_floor,
                "%d owl:sameAs merges, fewer than %d (exact: %d)"
                % (len(merged), merge_floor, exact))
    return {"merges": len(merged), "exact_merges": exact}


def _uri_key(uri: str) -> str:
    return uri[len(SURFACE_URI_PREFIX):].replace("-", " ")


def entity_uri(ex, sameas: dict, surface: str) -> str:
    uri = ex.surface_uri(ex.normalize_surface(surface))
    return sameas.get(uri, uri)


def check_build(corpus: gen.Corpus, out: str, summary: Summary,
                tally: Tally, merge_floor: int | None) -> dict:
    """Checks on the committed tables; returns counts the report uses."""
    ex = pkg()["extract"]
    tally.check(summary.surfaces == dict(corpus.planted),
                "kg:surface counts differ from the planted counts")

    bnodes = summary.bnode_rows
    tally.check(len(bnodes) == corpus.n_mentions and set(bnodes) == {6},
                "expected 6 triples on each of %d mention bnodes, got %d "
                "bnodes with %s" % (corpus.n_mentions, len(bnodes),
                                    sorted(set(bnodes))))

    canonical = check_canonical(corpus, summary, tally, merge_floor)

    # closed form from the planted mentions and the merges just checked:
    # six bnode triples per mention, one kg:mentions edge per
    # (conversation, entity), one label per (entity, surface form), one
    # owl:sameAs per merged surface key
    sameas = summary.sameas
    keys = {ex.normalize_surface(s) for s in corpus.planted}
    expected = (
        6 * corpus.n_mentions
        + len({(c, entity_uri(ex, sameas, s))
               for c, s in corpus.conv_surfaces})
        + len({(entity_uri(ex, sameas, s), s) for s in corpus.planted})
        + sum(1 for k in keys if ex.surface_uri(k) in sameas))
    tally.check(summary.rows == expected,
                "final rows %d != expected %d" % (summary.rows, expected))

    doubly_named = sum(1 for v in summary.names.values() if len(v) > 1)
    tally.check(doubly_named == 0,
                "%d entities have more than one foaf:name" % doubly_named)

    adj = read_table(out, "adjacency", ["degree"]).column("degree")
    edges = sum(adj.to_pylist())
    tally.check(len(adj) == len(summary.bucket) and edges == summary.rows,
                "adjacency %d subjects / %d edges vs %d subjects / %d rows"
                % (len(adj), edges, len(summary.bucket), summary.rows))

    return {"rows": summary.rows, "mentions": sum(summary.surfaces.values()),
            "entities": len({entity_uri(ex, sameas, s)
                             for s in corpus.planted}),
            "surfaces": len(keys), **canonical}


def check_export(out: str, summary: Summary, tally: Tally) -> dict:
    shards = read_table(out, "rdfxml", ["n_triples", "xml"])
    n_triples = sum(shards.column("n_triples").to_pylist())
    chars = sum(map(len, shards.column("xml").to_pylist()))
    n_buckets = len(set(summary.bucket.values()))
    tally.check(len(shards) == n_buckets and n_triples == summary.rows,
                "RDF/XML: %d shards / %d triples vs %d buckets / %d rows"
                % (len(shards), n_triples, n_buckets, summary.rows))
    return {"shards": len(shards), "chars": chars}


def turns_extracted(out: str, run_id: str | None) -> int:
    """Turns the checkpoint manifest records as processed by ``run_id``."""
    if run_id is None:
        return 0
    import pyarrow.parquet as pq

    manifest = pq.read_table(os.path.join(out, "_manifest")).to_pylist()
    return sum(r["n_turns"] for r in manifest
               if r["run_id"] == run_id and r["status"] == "done")


def table_stats(out: str) -> dict:
    files = size = 0
    for sub in ("triples", "adjacency"):
        for root, _, names in os.walk(os.path.join(out, sub)):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    if sub == "triples":
                        size += os.path.getsize(os.path.join(root, n))
    return {"files": files, "triple_bytes": size}


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------

@dataclass
class Server:
    """Read-side client of the committed tables, with the expectations
    each response is checked against."""
    spark: object
    out: str
    seed: int
    pools: dict = field(default_factory=dict)
    bucket: dict = field(default_factory=dict)
    names: dict = field(default_factory=dict)
    convs_of: dict = field(default_factory=dict)
    entities_of: dict = field(default_factory=dict)
    response_bytes: int = 0

    def prepare(self, corpus: gen.Corpus, summary: Summary) -> None:
        ex = pkg()["extract"]
        self.bucket = summary.bucket
        self.names = {s: v[0] for s, v in summary.names.items()}
        for conv, surface in corpus.conv_surfaces:
            entity = entity_uri(ex, summary.sameas, surface)
            conv_uri = ex.CONV_URI_PREFIX + conv
            self.convs_of.setdefault(entity, set()).add(conv_uri)
            self.entities_of.setdefault(conv_uri, set()).add(entity)
        subjects = sorted(self.bucket)
        self.pools = {
            "entity": sorted(self.names),
            "conversation": [s for s in subjects if s.startswith("urn:conv:")],
            "mention": [s for s in subjects if s.startswith("_:")],
        }
        rng = random.Random("pools:%d" % self.seed)
        for pool in self.pools.values():
            rng.shuffle(pool)
        self.table = self.spark.read.parquet(os.path.join(self.out, "triples"))

    def requests(self):
        """Endless seeded request stream: (op, subject kind, subject),
        cycling through REQUEST_CYCLE; subject ranks are Zipf-skewed
        within each pool."""
        rng = random.Random("requests:%d" % self.seed)
        cums = {k: gen.zipf_cum(len(p)) for k, p in self.pools.items()}
        while True:
            for op, kind in REQUEST_CYCLE:
                yield op, kind, rng.choices(
                    self.pools[kind], cum_weights=cums[kind])[0]

    def _scan(self, subject):
        from pyspark.sql import functions as F

        go = pkg()["graph_ops"]
        part = self.table.filter(F.col("subj_bucket") == self.bucket[subject])
        return go.scan(part, subject=subject)

    def run(self, op: str, subject: str):
        """The timed part of a request; returns what ``check`` needs."""
        m = pkg()
        go, model = m["graph_ops"], m["model"]
        if op == "describe":
            rows = [tuple(r) for r in self._scan(subject).select(
                "subj", "pred", "obj_value", "obj_kind", "obj_lang").collect()]
            xml = m["serializer"].serialize_triples(
                [(s, p, model.row_to_node(v, k, lang))
                 for s, p, v, k, lang in rows])
            self.response_bytes += len(xml.encode("utf-8"))
            return rows, xml
        if op == "labels":
            return go.find_labels(self._scan(subject)).collect()
        pattern = [("?c", pkg()["extract"].KG_MENTIONS, (subject, "uri", None))]
        return go.match_patterns(self.table, pattern).collect()

    def check(self, op: str, kind: str, subject: str, result) -> bool:
        m = pkg()
        ex, model = m["extract"], m["model"]
        if op == "describe":
            rows, xml = result
            parsed = [model.node_to_row(*t)
                      for t in m["parser"].parse_rdfxml(xml).triples()]
            if _unlabel(parsed) != _unlabel(rows):
                return False
            if kind == "entity":
                names = [r for r in rows if r[1] == ex.FOAF_NAME]
                return len(names) == 1 and names[0][2] == self.names[subject]
            if kind == "conversation":
                return {r[2] for r in rows if r[1] == ex.KG_MENTIONS} == \
                    self.entities_of[subject]
            return len(rows) == 6
        if op == "labels":
            if kind != "entity":
                return len(result) == 0
            return len(result) == 1 and \
                result[0].label_value == self.names[subject]
        return {r.c for r in result} == self.convs_of[subject]


def _unlabel(rows) -> collections.Counter:
    """Rows with bnode labels blanked: a description holds at most one
    bnode, and the parser relabels it."""
    return collections.Counter(
        tuple("_:" if isinstance(v, str) and v.startswith("_:") else v
              for v in r) for r in rows)


def percentile(values: list, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100])."""
    ordered = sorted(values)
    rank = max(1, int(-(-q * len(ordered) // 100)))
    return ordered[min(rank, len(ordered)) - 1]


def tail(values: list) -> tuple[float, float]:
    """Highest whole percentile with at least ten samples beyond it, and
    its value; the maximum when there are fewer than eleven samples."""
    n = len(values)
    if n < 11:
        return 100.0, max(values)
    q = 100.0 * (n - 10) // n
    return q, percentile(values, q)


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    result = fn(*args, **kwargs)
    return time.perf_counter() - t0, result
