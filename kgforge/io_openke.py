"""OpenKE text-format codec (reference interchange; A1, A2, A20).

Layout per the reference (OpenKEonSpark ``base/Reader.h::importTrainFiles``
and upstream thunlp/OpenKE, recalled symbols — SURVEY.md §0):

* ``entity2id.txt`` / ``relation2id.txt``: first line = row count, then
  ``name<TAB>id`` rows, ids dense ``0..N-1``.
* ``train2id.txt`` / ``valid2id.txt`` / ``test2id.txt``: first line =
  row count, then ``h t r`` space-separated ints — **entity ids first,
  relation id last**.

The codec is the only place the text format survives; everything else is
Parquet/DataFrame. Reads/writes are driver-side pandas (dictionaries are
small by construction); for 100 TB-scale triple files use the Spark
readers below which parse distributed and skip the count header.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# -- driver-side (small dictionaries / fixtures) ----------------------------

def _check_count(n: int, rows: int, path: str) -> None:
    if rows != n:
        raise ValueError(f"count header {n} != rows {rows} in {path}")


def write_dict_txt(df: pd.DataFrame, path: str) -> None:
    """``(name, id)`` → OpenKE dictionary file (count header + TSV).
    A name holding a tab or a line break (``\n``, or ``\r``, which the
    reader's universal newlines also split on) cannot be read back, and
    a name UTF-8 cannot encode (a lone surrogate) cannot be written: both
    raise ``ValueError`` before the file is opened."""
    df = df[["name", "id"]].sort_values("id")
    bad = df["name"].astype(str).str.contains(r"[\t\n\r]")
    if bad.any():
        raise ValueError(
            f"{int(bad.sum())} names hold a tab or line break, e.g. "
            f"{df['name'][bad].iloc[0]!r}: not representable in {path}"
        )
    text = f"{len(df)}\n" + "".join(f"{name}\t{i}\n" for name, i in df.itertuples(index=False))
    try:
        data = text.encode("utf-8")
    except UnicodeEncodeError as e:
        raise ValueError(
            f"a name holds {e.object[e.start:e.end]!r}, which UTF-8 cannot encode: "
            f"not representable in {path}"
        ) from None
    with open(path, "wb") as f:
        f.write(data)


def read_dict_txt(path: str) -> pd.DataFrame:
    with open(path, encoding="utf-8") as f:
        n = int(f.readline())
        rows = [line.rstrip("\n").split("\t") for line in f]
    df = pd.DataFrame(rows, columns=["name", "id"])
    df["id"] = df["id"].astype("int64")
    _check_count(n, len(df), path)
    return df


def write_triples_txt(df: pd.DataFrame, path: str) -> None:
    """``(h, t, r)`` int triples → OpenKE split file (h t r, count header)."""
    with open(path, "w", encoding="utf-8") as f:
        f.write(f"{len(df)}\n")
        for h, t, r in df[["h", "t", "r"]].itertuples(index=False):
            f.write(f"{h} {t} {r}\n")


def read_triples_txt(path: str) -> pd.DataFrame:
    with open(path, encoding="utf-8") as f:
        n = int(f.readline())
        df = pd.read_csv(f, sep=" ", names=["h", "t", "r"], dtype="int64")
    _check_count(n, len(df), path)
    return df


def write_split(split: dict[str, pd.DataFrame], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    write_dict_txt(split["entity2id"], os.path.join(out_dir, "entity2id.txt"))
    write_dict_txt(split["relation2id"], os.path.join(out_dir, "relation2id.txt"))
    for name in ("train2id", "valid2id", "test2id"):
        write_triples_txt(split[name], os.path.join(out_dir, f"{name}.txt"))


def read_split(in_dir: str) -> dict[str, pd.DataFrame]:
    return {
        "entity2id": read_dict_txt(os.path.join(in_dir, "entity2id.txt")),
        "relation2id": read_dict_txt(os.path.join(in_dir, "relation2id.txt")),
        **{
            name: read_triples_txt(os.path.join(in_dir, f"{name}.txt"))
            for name in ("train2id", "valid2id", "test2id")
        },
    }


def write_type_constraint(domains: dict[int, list[int]], ranges: dict[int, list[int]], path: str) -> None:
    """``type_constrain.txt`` (upstream OpenKE layout): first line = number
    of relations with constraints; then, per relation, one line
    ``r n e1 e2 ...`` for the head domain followed by one line for the
    tail range."""
    rels = sorted(set(domains) | set(ranges))
    with open(path, "w") as f:
        f.write(f"{len(rels)}\n")
        for r in rels:
            d = sorted(domains.get(r, []))
            g = sorted(ranges.get(r, []))
            f.write(f"{r}\t{len(d)}\t" + "\t".join(map(str, d)) + "\n")
            f.write(f"{r}\t{len(g)}\t" + "\t".join(map(str, g)) + "\n")


def read_type_constraint(path: str) -> tuple[dict[int, list[int]], dict[int, list[int]]]:
    with open(path) as f:
        n = int(f.readline())
        domains: dict[int, list[int]] = {}
        ranges: dict[int, list[int]] = {}
        for _ in range(n):
            parts = f.readline().split("\t")
            r, cnt = int(parts[0]), int(parts[1])
            domains[r] = [int(x) for x in parts[2:2 + cnt]]
            parts = f.readline().split("\t")
            r2, cnt = int(parts[0]), int(parts[1])
            ranges[r2] = [int(x) for x in parts[2:2 + cnt]]
    return domains, ranges


# -- A20: embedding checkpoint (Parquet (id, vec) tables) --------------------

#: checkpoint component tables. ``mat`` (TransR [|R|, d_r, d_e]) is stored
#: row-major flattened with its dims in meta.json.
EMB_COMPONENTS = (
    "ent", "rel", "norm", "mat", "ent_p", "rel_p",
    # bilinear / rotational families (ComplEx imaginary parts, RotatE
    # precomputed rotation pair)
    "ent_im", "rel_im", "rot_re", "rot_im",
    # SimplE tail-role entity / inverse-relation vectors
    "ent_tail", "rel_inv",
    # Analogy scalar-block vectors
    "ent_sc", "rel_sc",
)


def write_embeddings_parquet(emb: dict, out_dir: str) -> None:
    """A20 parameter export: NumPy embedding dict → Parquet ``(id, vec
    array<float>)`` tables, one per component, in the hive layout
    ``components/component=<key>/`` (SURVEY.md §2 A20: "Parquet
    write/read of (id, vec) tables").

    Embeddings are model-parameter-sized (the same thing the reference
    checkpoints from its parameter server), so the driver writes the
    files itself with pyarrow and no Spark job runs;
    :func:`read_embeddings_parquet` reads them back on the driver
    for the broadcast link and eval paths. float32 values are stored as
    they are, so the round-trip is bit-identical (NaN payloads, ±0.0,
    subnormals). A write replaces the previous checkpoint and names its
    data files afresh, so a rewrite always changes the
    ``manifest.fingerprint_paths`` listing; ``_SUCCESS`` is written last.
    """
    import json
    import shutil
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    comp_dir = os.path.join(out_dir, "components")
    shutil.rmtree(comp_dir, ignore_errors=True)
    os.makedirs(comp_dir)
    fname = f"part-{uuid.uuid4().hex}.parquet"
    dims = {}
    for key in EMB_COMPONENTS:
        if key not in emb:
            continue
        mat = np.asarray(emb[key])
        dims[key] = list(mat.shape)
        flat = np.ascontiguousarray(mat.reshape(mat.shape[0], -1), dtype="float32")
        n, width = flat.shape
        vec = pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * width + 1, width, dtype="int32")), pa.array(flat.ravel())
        )
        part = os.path.join(comp_dir, f"component={key}")
        os.makedirs(part)
        pq.write_table(
            pa.table({"id": pa.array(np.arange(n, dtype="int64")), "vec": vec}),
            os.path.join(part, fname),
        )
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump({"dims": dims}, f, indent=1, sort_keys=True)
    open(os.path.join(comp_dir, "_SUCCESS"), "w").close()


def read_embeddings_parquet(in_dir: str) -> dict[str, np.ndarray]:
    """A20 import: checkpoint → NumPy dict, reshaped per meta.json.
    Parameter-sized by design (|E|·d floats), so the driver reads the
    files itself (``pd.read_parquet``, the hive ``component`` column from
    the directory names) and no Spark job runs."""
    import json

    with open(os.path.join(in_dir, "meta.json")) as f:
        dims = json.load(f)["dims"]
    pdf = pd.read_parquet(os.path.join(in_dir, "components"))
    out: dict[str, np.ndarray] = {}
    for key, shape in dims.items():
        part = pdf[pdf["component"] == key].sort_values("id")
        assert (part["id"].to_numpy() == np.arange(len(part))).all(), f"non-dense ids in {key}"
        out[key] = np.array(part["vec"].tolist(), dtype="float32").reshape(shape)
    return out


# -- distributed writer (scale path: triple exports can be huge) ------------

def write_triples_txt_spark(df: DataFrame, path: str, n_partitions: int = 16) -> int:
    """``(h, t, r)`` DataFrame → OpenKE triple file, written by Spark.

    Globally sorted by (h, t, r): ``repartitionByRange`` gives ascending
    key ranges to ascending partition ids, each partition sorts locally,
    Spark writes ``part-*`` text files in partition order, and the
    driver stream-concatenates the files behind the count header — a
    file-level copy, never a data-sized driver materialization (the
    round-1 export ``toPandas``'d every distinct triple). The row count
    comes from an ``observe`` on the same scan. Returns the count.
    """
    import shutil

    from pyspark.sql import Observation

    tmp = path + "._spark_txt"
    obs = Observation("triple_export")
    lines = (
        df.select(F.col("h").cast("long"), F.col("t").cast("long"), F.col("r").cast("long"))
        .repartitionByRange(n_partitions, "h", "t", "r")
        .sortWithinPartitions("h", "t", "r")
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .select(F.concat_ws(" ", "h", "t", "r").alias("value"))
    )
    lines.write.mode("overwrite").text(tmp)
    n = int(obs.get["n"])
    parts = sorted(
        f for f in os.listdir(tmp) if f.startswith("part-") and not f.endswith(".crc")
    )
    with open(path, "w") as out:
        out.write(f"{n}\n")
        for p in parts:
            with open(os.path.join(tmp, p)) as src:
                shutil.copyfileobj(src, out)
    shutil.rmtree(tmp)
    return n


# -- distributed readers (scale path: triple files can be huge) -------------

def read_triples_spark(spark: SparkSession, path: str) -> DataFrame:
    """Distributed parse of an OpenKE triple file, header row dropped.

    The count header is a single short line; rather than a driver
    read-then-skip, filter rows that don't have 3 fields (only the header
    matches) — keeps the scan fully parallel and the validation is done
    separately against the header when needed.
    """
    raw = spark.read.text(path)
    parts = F.split(F.trim(F.col("value")), r"\s+")
    return (
        raw.select(parts.alias("p"))
        .where(F.size("p") == 3)
        .select(
            F.col("p")[0].cast("long").alias("h"),
            F.col("p")[1].cast("long").alias("t"),
            F.col("p")[2].cast("long").alias("r"),
        )
    )

