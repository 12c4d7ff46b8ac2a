"""Column-metadata index over saved clp_s-style JSON archives.

Analog of the reference's IndexManager (clp_s/indexer/IndexManager.hpp:
14-27), which walks an archive's schema tree and publishes every
(field-path, type) pair to a metadata table so an external SQL planner
(the Presto connector) can prune archives that cannot contain a queried
column. Here the index is a tiny parquet file inside the archive
directory, derived from the already-persisted schema tree, and the
consumer is `search_archives_kql` — federated KQL over many archive
dirs with index-based archive pruning (the JSON-side twin of the text
engine's federated `search/sinks.py::search_archives`).

Pruning is EXISTENCE-based and conservative, hence always exact: an
archive is skipped only when some field the query REQUIRES (present in
every disjunct, not under NOT) has no schema-tree path that could hold
it. Unstructured arrays are handled by prefix descent — a query path
`a.b.c` may match inside an array stored whole at `a` or `a.b`
(QueryRunner.cpp evaluate_array_filter recursion), so any array node
whose path prefixes the required path keeps the archive alive.
"""

from __future__ import annotations

import os

from clp_spark.clps.encoder import (
    NODE_ARRAY,
    NODE_ARRSTART,
    SAVE_ID_FILE,
    _MARKER_TAGS,
    JsonArchive,
)
from clp_spark.clps.kql import _is_kw, _tokenize

__all__ = [
    "TAG_NAMES",
    "write_column_index",
    "read_column_index",
    "required_paths",
    "archive_may_match",
    "load_surviving_archives",
    "search_archives_kql",
]

# leaf tags → the reference's NodeType names (SchemaTree.hpp:24-43)
TAG_NAMES = {
    0: "Integer",
    1: "Float",
    2: "Boolean",
    3: "NullValue",
    4: "VarString",
    5: "ClpString",
    6: "UnstructuredArray",
    7: "Integer",  # bignum: decimal text, still an integer field to SQL
    8: "StructuredArray",   # ARRSTART marker (structurized archives)
    10: "Object",           # OBJSTART marker
    12: "Float",  # fmtfloat: source-formatted float
    13: "Object",  # explicitly-empty object value
}

_INDEX_FILE = "column_index"


def write_column_index(archive_dir: str) -> str:
    """Derive the (path, tag, type) index from a saved archive's schema
    tree and persist it at <archive_dir>/column_index. The tree is
    CLP-small by design (one row per distinct (path, tag)), so this is
    a driver-side pyarrow pass — no Spark job."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    tree = ds.dataset(
        os.path.join(archive_dir, "schema_tree"), format="parquet"
    ).to_table()
    paths = tree.column("path").to_pylist()
    tags = tree.column("tag").to_pylist()
    rows = [
        (p, int(t), TAG_NAMES[int(t)])
        for p, t in zip(paths, tags)
        if int(t) in TAG_NAMES and int(t) not in (9, 11)  # skip end markers
    ]
    rows.sort()
    out_dir = os.path.join(archive_dir, _INDEX_FILE)
    os.makedirs(out_dir, exist_ok=True)
    tbl = pa.table(
        {
            "path": [r[0] for r in rows],
            "tag": pa.array([r[1] for r in rows], pa.int32()),
            "type": [r[2] for r in rows],
        }
    )
    out = os.path.join(out_dir, "part-00000.parquet")
    pq.write_table(tbl, out, compression="zstd")
    return out_dir


def read_column_index(archive_dir: str):
    """Load the index as a list of (path, tag) tuples; builds it on the
    fly (and persists it) for archives saved before indexing existed."""
    import pyarrow.dataset as ds

    idx_dir = os.path.join(archive_dir, _INDEX_FILE)
    if not os.path.isdir(idx_dir) or not any(os.scandir(idx_dir)):
        write_column_index(archive_dir)
    tbl = ds.dataset(idx_dir, format="parquet").to_table()
    return list(zip(tbl.column("path").to_pylist(), tbl.column("tag").to_pylist()))


# above this many archives the per-archive driver reads become the
# planning bottleneck (the reference plans across archives in ONE SQL
# query against its metadata DB — query_scheduler.py:464-524); batch
# all indexes in a single Spark scan instead
_BATCH_INDEX_MIN_ARCHIVES = 32


def _read_indexes(spark, archive_dirs: list[str]) -> dict:
    """{archive_dir: [(path, tag)]} for every archive. Small fleets use
    the per-archive pyarrow read (fast, no job); large fleets read ALL
    column_index parquets in ONE distributed scan keyed back to their
    archive by file path — O(1) planning actions at any archive count."""
    if len(archive_dirs) < _BATCH_INDEX_MIN_ARCHIVES or spark is None:
        return {d: read_column_index(d) for d in archive_dirs}
    # ensure every archive has a persisted index (pre-index archives)
    for d in archive_dirs:
        idx_dir = os.path.join(d, _INDEX_FILE)
        if not os.path.isdir(idx_dir) or not any(os.scandir(idx_dir)):
            write_column_index(d)
    import pyspark.sql.functions as F

    paths = [os.path.join(d, _INDEX_FILE) for d in archive_dirs]
    df = (
        spark.read.parquet(*paths)
        .withColumn(
            "_arch",
            F.regexp_extract(
                F.input_file_name(), f"(.*)/{_INDEX_FILE}/[^/]+$", 1
            ),
        )
        .select("_arch", "path", "tag")
    )
    from urllib.parse import unquote, urlparse

    amap = {os.path.abspath(d): d for d in archive_dirs}
    out: dict = {d: [] for d in archive_dirs}
    for r in df.collect():
        u = urlparse(r["_arch"])
        key = os.path.abspath(unquote(u.path) if u.scheme else r["_arch"])
        d = amap.get(key)
        if d is not None:
            out[d].append((r["path"], r["tag"]))
    for d in out:
        out[d].sort()
    return out


# ---- required-field analysis of a KQL query -------------------------
#
# Mirrors _Parser's grammar (clps/kql.py) but computes only the set
# algebra over field paths: AND = union, OR = intersection, NOT = ∅,
# bare values / '$'-metadata fields = ∅ (cannot prune on them).


class _ReqWalker:
    def __init__(self, toks):
        self.toks = toks
        self.i = 0
        self.prefix: list[str] = []

    def peek(self, ahead: int = 0):
        j = self.i + ahead
        return self.toks[j] if j < len(self.toks) else (None, None)

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def or_expr(self) -> frozenset:
        s = self.and_expr()
        while _is_kw(self.peek(), "or"):
            self.next()
            s = s & self.and_expr()
        return s

    def and_expr(self) -> frozenset:
        s = self.unary()
        while _is_kw(self.peek(), "and"):
            self.next()
            s = s | self.unary()
        return s

    def unary(self) -> frozenset:
        kind, tok = self.peek()
        if _is_kw((kind, tok), "not"):
            self.next()
            self.unary()  # consume; a negated branch requires nothing
            return frozenset()
        if kind == "lpar":
            self.next()
            s = self.or_expr()
            self.next()  # ')'
            return s
        return self.condition()

    def _full(self, path: str) -> str:
        return ".".join(self.prefix + [path]) if self.prefix else path

    def _field(self, path: str) -> frozenset:
        full = self._full(path)
        if full.startswith("$"):
            return frozenset()  # metadata/range-index namespace
        return frozenset([full])

    def condition(self) -> frozenset:
        kind, path = self.next()
        if kind == "quoted":
            path = path[1:-1]
        okind, op = self.peek()
        if okind != "op":
            return frozenset()  # bare value: matches any column
        self.next()
        if op == ":":
            vkind, vtok = self.peek()
            if vkind == "lbrace":
                self.next()
                self.prefix.append(path)
                try:
                    s = self.or_expr()
                finally:
                    self.prefix.pop()
                self.next()  # '}'
                return s
            if vkind == "lpar":
                return self._list(path)
            if (
                vkind == "word"
                and vtok.lower() == "timestamp"
                and self.peek(1)[0] == "lpar"
            ):
                self.next()
                self._consume_timestamp()
                return self._field(path)
            self.next()
            return self._field(path)
        # range op
        vkind, vtok = self.next()
        if vkind == "word" and vtok.lower() == "timestamp" and self.peek()[0] == "lpar":
            self._consume_timestamp()
        return self._field(path)

    def _list(self, path: str) -> frozenset:
        self.next()  # '('
        negated = False
        if _is_kw(self.peek(), "and", "or", "not"):
            negated = self.next()[1].lower() == "not"
        while self.peek()[0] in ("word", "quoted"):
            vk, vt = self.next()
            if vk == "word" and vt.lower() == "timestamp" and self.peek()[0] == "lpar":
                self._consume_timestamp()
        self.next()  # ')'
        return frozenset() if negated else self._field(path)

    def _consume_timestamp(self) -> None:
        # 'timestamp' was consumed; skip '(' ... ')'
        depth = 0
        while True:
            k, _ = self.next()
            if k == "lpar":
                depth += 1
            elif k == "rpar":
                depth -= 1
                if depth == 0:
                    return
            elif k is None:
                return


def required_paths(query: str) -> frozenset:
    """Field paths that EVERY match of the query must populate (may
    contain '*' wildcards). An archive whose schema tree cannot host one
    of them cannot contain a match."""
    w = _ReqWalker(_tokenize(query))
    s = w.or_expr()
    if w.i != len(w.toks):
        raise ValueError(f"trailing tokens: {w.toks[w.i:]}")
    return s


def archive_may_match(index, req: frozenset) -> bool:
    """index: list[(path, tag)] from read_column_index. True unless some
    required path has no host: no index path equals/wildcard-matches it,
    and no array node's path prefixes it (descent into an unstructured
    or structurized array)."""
    from clp_spark.search.wildcard import wildcard_match

    if not req:
        return True
    paths = [p for p, _t in index]
    array_paths = [
        p for p, t in index if t in (NODE_ARRAY, NODE_ARRSTART)
    ]
    for want in req:
        if "*" in want:
            if any(wildcard_match(want, p) for p in paths):
                continue
            # a wildcard path may still resolve inside an array blob
            if array_paths:
                continue
            return False
        if want in paths:
            continue
        if any(
            want == ap or want.startswith(ap + ".") for ap in array_paths
        ):
            continue
        return False
    return True


def _archive_token(archive_dir: str) -> tuple | None:
    """Freshness token for a saved archive: the save id every
    JsonArchive.save writes as its last step, plus the newest mtime of
    its top-level entries (an archive touched after its save reloads
    too). None while a save is in flight or for an archive saved without
    an id — such archives load fresh on every call."""
    try:
        with open(os.path.join(archive_dir, SAVE_ID_FILE)) as f:
            save_id = f.read()
        with os.scandir(archive_dir) as it:
            return save_id, max(e.stat().st_mtime_ns for e in it)
    except OSError:
        return None


def load_surviving_archives(
    spark,
    archive_dirs: list[str],
    req=None,
    *,
    driver_dict_cap: int = 300_000,
    cache: dict | None = None,
):
    """The shared federated-planning step: prune archives whose column
    index cannot host the required paths (`req`, falsy ⇒ no pruning),
    then load the survivors with driver dictionary collects overlapped
    across archives (Spark driver actions are thread-safe). Used by
    KQL federation (below), the SQL view, and the tool server so the
    prune rule and load overlap live in exactly one place.

    `cache`: optional {dir: (save id, JsonArchive)} memo for long-lived
    callers (the tool server) — entries are keyed on the save id every
    JsonArchive.save writes last, so immutable on-disk archives load
    once per server lifetime while a re-saved archive reloads.

    Returns (searched_dirs, archives), parallel lists."""
    from concurrent.futures import ThreadPoolExecutor

    searched = list(archive_dirs)
    if req:
        idx_by_dir = _read_indexes(spark, searched)
        searched = [d for d in searched if archive_may_match(idx_by_dir[d], req)]
    if not searched:
        return [], []

    def _load(d: str) -> JsonArchive:
        if cache is None:
            return JsonArchive.load(spark, d, driver_dict_cap=driver_dict_cap)
        tok = _archive_token(d)
        hit = cache.get(d)
        if tok is not None and hit is not None and hit[0] == tok:
            return hit[1]
        arch = JsonArchive.load(spark, d, driver_dict_cap=driver_dict_cap)
        # a save that ran during the load may have mixed old and new
        # files: cache only a load that began and ended on one save id
        if tok is not None and _archive_token(d) == tok:
            cache[d] = (tok, arch)
        return arch

    with ThreadPoolExecutor(max_workers=min(8, len(searched))) as pool:
        archs = list(pool.map(_load, searched))
    return searched, archs


def search_archives_kql(
    spark,
    archive_dirs: list[str],
    query: str,
    ignore_case: bool = False,
    driver_dict_cap: int = 300_000,
):
    """Federated KQL over many saved archives with column-index
    archive pruning: skip (never load) archives whose schema tree
    cannot host the query's required fields, union the survivors'
    matches with an `archive` provenance column. Returns
    (DataFrame | None, searched_dirs) — None when every archive was
    pruned."""
    import pyspark.sql.functions as F

    from clp_spark.clps.kql import kql_query

    searched, archs = load_surviving_archives(
        spark, archive_dirs, required_paths(query),
        driver_dict_cap=driver_dict_cap,
    )
    if not searched:
        return None, []
    out = None
    for d, arch in zip(searched, archs):
        part = kql_query(arch, query, ignore_case).withColumn(
            "archive", F.lit(os.path.basename(os.path.normpath(d)))
        )
        out = part if out is None else out.unionByName(part, allowMissingColumns=True)
    return out, searched
