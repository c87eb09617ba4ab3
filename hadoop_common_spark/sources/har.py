"""Hadoop Archive (HAR) bridge — byte-level read/write of the `.har`
directory layout (HC/fs/HarFileSystem.java, version 3), upgrading the
§2.2 archives row from a parquet-compaction analogy to format parity.

Layout (HarFileSystem.java:36-57):

- ``part-N``: concatenated file payloads (we write one ``part-0``).
- ``_index``: one line per entry —
  ``<urlenc-name> file <partName> <start> <len> <urlenc-props>`` or
  ``<urlenc-name> dir <urlenc-props> 0 0 <urlenc-child> ...``
  (HarStatus parse, HarFileSystem.java:583-634; props =
  "modtime perm owner group", version-3 field).
- ``_masterindex``: first line the version (``3``), then
  ``<startHash> <endHash> <beginByte> <endByte>`` store lines bounding
  byte ranges of ``_index`` per name-hash range
  (parseMetaData, HarFileSystem.java:1151-1183). The reader loads every
  store's range, so a single store spanning the whole index is valid;
  hashes use Java ``String.hashCode() & 0x7fffffff``
  (getHarHash, HarFileSystem.java:98-101).
- Names are URLEncoder-encoded (space → ``+``), decodeString =
  URLDecoder (HarFileSystem.java:255-265).

Scale: an archive's payload lives in few large ``part-N`` files; the
DataFrame lift plans one task per archived FILE with a ranged read into
its part (the same offset/length task-spec pattern as the TFile block
split) — a million-small-file archive reads as parallel ranged I/O, no
per-file driver listing of the underlying FS (that being HAR's whole
point)."""

from __future__ import annotations

import io
import os
from collections.abc import Iterable, Iterator
from urllib.parse import quote_plus, unquote_plus

from pyspark.sql import DataFrame, SparkSession

VERSION = 3
# Java URLEncoder's unreserved set
_SAFE = "-_.*"


def _encode(s: str) -> str:
    return quote_plus(s, safe=_SAFE)


def _decode(s: str) -> str:
    return unquote_plus(s)


_PROPS = _encode("0 420 spark spark")  # modtime perm owner group
_DPROPS = _encode("0 493 spark spark")


def write_har(har_dir: str, files: Iterable[tuple[str, bytes]]) -> int:
    """Write a version-3 HAR directory readable by the JVM's
    ``HarFileSystem`` (``har://`` scheme). ``files`` are
    (archive-relative path like "a/b.txt", payload) pairs; intermediate
    directories materialize automatically. Returns the file count."""
    os.makedirs(har_dir, exist_ok=True)
    entries: dict[str, tuple[str, int, int]] = {}  # path -> (part, start, len)
    children: dict[str, set[str]] = {"/": set()}
    part = io.BytesIO()
    n = 0
    for rel, payload in files:
        rel = rel.strip("/")
        if not rel:
            raise ValueError("empty archive path")
        start = part.tell()
        part.write(payload)
        entries["/" + rel] = ("part-0", start, len(payload))
        # register the chain of parent dirs and their children
        comps = rel.split("/")
        for i in range(len(comps)):
            parent = "/" + "/".join(comps[:i]) if i else "/"
            parent = parent.rstrip("/") or "/"
            children.setdefault(parent, set()).add(comps[i])
            if i:
                children.setdefault("/" + "/".join(comps[:i]), set())
        n += 1
    with open(os.path.join(har_dir, "part-0"), "wb") as f:
        f.write(part.getvalue())

    lines = []
    for d in sorted(children):
        kid_names = " ".join(_encode(c) for c in sorted(children[d]))
        line = f"{_encode(d)} dir {_DPROPS} 0 0"
        if kid_names:
            line += " " + kid_names
        lines.append(line)
    for p in sorted(entries):
        pn, st, ln = entries[p]
        lines.append(f"{_encode(p)} file {pn} {st} {ln} {_PROPS}")
    index_blob = "".join(line + "\n" for line in lines).encode("utf-8")
    with open(os.path.join(har_dir, "_index"), "wb") as f:
        f.write(index_blob)
    with open(os.path.join(har_dir, "_masterindex"), "wb") as f:
        f.write(f"{VERSION} \n".encode())
        f.write(f"0 {(1 << 31) - 1} 0 {len(index_blob)}\n".encode())
    return n


def _parse_index(har_dir: str) -> dict[str, tuple[bool, str, int, int]]:
    """path -> (is_dir, part_name, start, length); validates the
    masterindex version and store byte ranges like parseMetaData."""
    with open(os.path.join(har_dir, "_masterindex"), "rb") as f:
        head = f.read().decode("utf-8").splitlines()
    version = int(head[0].split(" ")[0])
    if version > VERSION:
        raise ValueError(f"invalid HAR version {version}, expected <= {VERSION}")
    stores = []
    for line in head[1:]:
        if line.strip():
            parts = line.split(" ")
            stores.append((int(parts[2]), int(parts[3])))
    with open(os.path.join(har_dir, "_index"), "rb") as f:
        index_blob = f.read()
    out: dict[str, tuple[bool, str, int, int]] = {}
    for begin, end in stores:
        for line in index_blob[begin:end].decode("utf-8").splitlines():
            if not line.strip():
                continue
            sp = line.split(" ")
            name = _decode(sp[0])
            is_dir = sp[1] == "dir"
            out[name] = (is_dir, sp[2], int(sp[3]), int(sp[4]))
    return out


def har_list(har_dir: str) -> list[str]:
    """Archived FILE paths (dirs omitted), sorted."""
    return sorted(p for p, (d, *_rest) in _parse_index(har_dir).items() if not d)


def har_open(har_dir: str, path: str) -> bytes:
    """Read one archived file's payload (ranged read into its part)."""
    if not path.startswith("/"):
        path = "/" + path
    ent = _parse_index(har_dir).get(path)
    if ent is None or ent[0]:
        raise FileNotFoundError(f"{path} not an archived file in {har_dir}")
    _, part, start, length = ent
    with open(os.path.join(har_dir, part), "rb") as f:
        f.seek(start)
        return f.read(length)


def read_har_df(
    spark: SparkSession, har_dir: str, path_col: str = "path", content_col: str = "content"
) -> DataFrame:
    """DataFrame(path, content) over an archive: the index parses once
    (driver-side, it is small by design), then every archived file is a
    ranged-read task into its part file — the TFile-block-split pattern,
    so a many-small-file archive decodes in parallel without touching
    the underlying FS namespace per file."""
    import pandas as pd

    specs = [
        (p, os.path.join(har_dir, part), start, length)
        for p, (is_dir, part, start, length) in sorted(_parse_index(har_dir).items())
        if not is_dir
    ]
    if not specs:
        return spark.createDataFrame([], f"{path_col} string, {content_col} binary")
    df = spark.createDataFrame(
        specs, "p string, part string, start long, length long"
    ).repartition(min(len(specs), spark.sparkContext.defaultParallelism))

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                with open(row.part, "rb") as f:
                    f.seek(row.start)
                    out.append((row.p, f.read(row.length)))
            yield pd.DataFrame(out, columns=[path_col, content_col])

    return df.mapInPandas(gen, f"{path_col} string, {content_col} binary")
