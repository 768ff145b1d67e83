"""The benchmark workloads: seeded input, one timed operation, output check.

Each workload is driven the same way by ``run.py``:

    wl = Workload(root, work, seed)
    wl.generate()          # seeded inputs + expected outputs (pure Python)
    wl.load()              # part of set-up (timed as setup_s)
    wl.prepare(spark)      # write the input tables (untimed)
    rows = wl.op(spark, i) # one timed operation over the inputs
    wl.check(spark, i)     # list of failed checks for operation i
"""

from __future__ import annotations

import pickle
import shutil
from collections import Counter
from itertools import combinations
from pathlib import Path

import pandas as pd

from perfbench import gen

LOOKUP_STRUCTS = Path("data/cache/lookup_structs_2ac432b4ec9e0f78.pkl")


class LookupOnly:
    """Stands in for the engine in stage B: exposes only the committed
    lookup structures as ``ds``, the one attribute ``build_link_dicts``
    reads, so link scoring runs on the real dictionaries."""

    def __init__(self, ds: dict) -> None:
        self.ds = ds


class KgBuild:
    """One full stage-B rebuild (``build_kg.run_job(kg_only=True)``) over a
    seeded mentions table in the stage-A layout."""

    name = "kg_build"
    job = "jobs.build_kg"
    n_pages = 3000
    n_parts = 16

    def __init__(self, root: Path, work: Path, seed: int) -> None:
        self.root, self.work, self.seed = root, work, seed
        self.engine: LookupOnly | None = None

    def generate(self) -> dict:
        from deduce_spark import golden

        self.mentions = gen.mentions(self.seed, self.n_pages)
        surface_map, nodes = golden.canonicalize_seq(self.mentions)
        fam = golden.triples_seq(self.mentions, surface_map)
        self.expect_nodes = set(nodes)
        self.expect_edges = {k: v for k, v in fam.items()
                             if not k.startswith("_")}
        fuzzy_surfaces = sum(1 for s in surface_map if s[1] in golden.FUZZY_TYPES)
        fuzzy_entities = len({s[3] for s in surface_map
                              if s[1] in golden.FUZZY_TYPES})
        return {"pages": self.n_pages, "mentions": len(self.mentions),
                "digest": gen.digest(self.mentions),
                "expect_nodes": len(nodes),
                "expect_edges": sum(self.expect_edges.values()),
                "fuzzy_merges": fuzzy_surfaces - fuzzy_entities}

    def load(self) -> None:
        with open(self.root / LOOKUP_STRUCTS, "rb") as fh:
            self.engine = LookupOnly(pickle.load(fh))

    def prepare(self, spark) -> None:
        from deduce_spark.spark.icetable import IceTable

        m = self.mentions.copy()
        m["part_id"] = gen.part_id(m["url"], self.n_parts)
        IceTable(self.work / "input" / "mentions").write(
            spark.createDataFrame(m), partition_by=("part_id",),
            mode="overwrite",
        )

    def _out(self, i: int) -> Path:
        return self.work / f"op{i}"

    def before_op(self, i: int) -> None:
        shutil.copytree(self.work / "input" / "mentions",
                        self._out(i) / "mentions")

    def op(self, spark, i: int) -> int:
        import build_kg

        build_kg.run_job(spark, None, str(self._out(i)), kg_only=True,
                         engine=self.engine)
        return len(self.mentions)

    def edge_counts(self, i: int) -> dict[str, int]:
        from deduce_spark.spark.icetable import IceTable

        counts: Counter = Counter()
        for p in IceTable(self._out(i) / "edges").partition_stats():
            counts[p["partition"]["pred"]] += p["rows"]
        return dict(counts)

    def check(self, spark, i: int) -> list[str]:
        from deduce_spark.spark.icetable import IceTable

        bad = []
        got = self.edge_counts(i)
        if got != self.expect_edges:
            bad.append(f"edges per predicate {got} != {self.expect_edges}")
        nodes = (IceTable(self._out(i) / "nodes").read(spark)
                 .select("entity_id", "type", "canonical_form", "n_mentions")
                 .toPandas())
        got_nodes = set(nodes.itertuples(index=False, name=None))
        if got_nodes != self.expect_nodes:
            bad.append(f"nodes differ: {len(got_nodes - self.expect_nodes)} "
                       f"unexpected, {len(self.expect_nodes - got_nodes)} "
                       "missing")
        return bad

    def layer_counts(self, i: int) -> dict[str, float]:
        return {"kg.cooc_rows": self.edge_counts(i).get("coOccursWith", 0)}


def replay_minhash_survivors(docs: pd.DataFrame) -> set[int]:
    """Sequential replay of ``dedup.minhash_dedup`` at the settings the
    curate job uses (threshold 0.7, i.e. >= 45 of 64 signature positions,
    16 bands x 4 rows, buckets over 256 dropped): the doc ids that are
    their cluster's canonical (minimum) member."""
    from collections import defaultdict

    from deduce_spark.golden import _UnionFind
    from deduce_spark.spark.dedup import minhash_sig

    sigs = {int(d): minhash_sig(t) for d, t in zip(docs["doc_id"], docs["text"])}
    buckets: dict[tuple, list[int]] = defaultdict(list)
    for did, sig in sigs.items():
        for band in range(16):
            buckets[(band, tuple(sig[band * 4:band * 4 + 4]))].append(did)
    pairs: set[tuple[int, int]] = set()
    for members in buckets.values():
        if len(members) <= 256:
            pairs.update(combinations(sorted(members), 2))
    uf = _UnionFind()
    for a, b in pairs:
        if sum(x == y for x, y in zip(sigs[a], sigs[b])) >= 45:
            uf.union(a, b)
    comp = uf.labels()
    return {d for d in sigs if comp.get(d, d) == d}


class Curate:
    """One ``curate_corpus.run_job`` over seeded documents."""

    name = "curate"
    job = "jobs.curate_corpus"
    n_docs = 4000

    def __init__(self, root: Path, work: Path, seed: int) -> None:
        self.root, self.work, self.seed = root, work, seed

    def generate(self) -> dict:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.docs = gen.documents(self.seed, self.n_docs)
        path = self.work / "input" / "docs"
        path.mkdir(parents=True)
        # several files, as a crawl dump has: one file is one scan task
        step = -(-self.n_docs // 8)
        for k in range(0, self.n_docs, step):
            pq.write_table(pa.Table.from_pandas(self.docs.iloc[k:k + step],
                                                preserve_index=False),
                           path / f"part-{k // step:02d}.parquet")
        return {"docs": self.n_docs, "digest": gen.digest(self.docs)}

    def load(self) -> None:
        pass

    def prepare(self, spark) -> None:
        pass

    def before_op(self, i: int) -> None:
        pass

    def op(self, spark, i: int) -> int:
        import curate_corpus

        curate_corpus.run_job(spark, str(self.work / "input" / "docs"),
                              str(self.work / f"op{i}"), resume=False)
        return self.n_docs

    def check(self, spark, i: int) -> list[str]:
        from deduce_spark.spark.icetable import IceTable

        out = self.work / f"op{i}"
        verdicts = (IceTable(out / "verdicts").read(spark)
                    .select("doc_id", "verdict").toPandas())
        kept = set(IceTable(out / "kept").read(spark)
                   .select("doc_id").toPandas()["doc_id"].astype(int))
        bad = []
        seen = set(verdicts["verdict"])
        # off_model and too_long cannot trigger at this size: the LM
        # threshold is above log2 of the reference slice's vocabulary,
        # and no document nears the word cap
        for rule in ("too_short", "repetitive", "dominated", "duplicate",
                     "contaminated", "keep"):
            if rule not in seen:
                bad.append(f"no document got verdict {rule!r}")
        keep_ids = set(verdicts.loc[verdicts["verdict"] == "keep", "doc_id"])
        expect = replay_minhash_survivors(
            self.docs[self.docs["doc_id"].isin(keep_ids)])
        if kept != expect:
            bad.append(f"kept differs from replay: {len(kept - expect)} "
                       f"unexpected, {len(expect - kept)} missing")
        return bad

    def layer_counts(self, i: int) -> dict[str, float]:
        return {}


WORKLOADS = {w.name: w for w in (KgBuild, Curate)}
