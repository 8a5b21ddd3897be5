"""CLI harness — the reference's ``InfoSelectorTest.main`` surface.

Reproduces the end-to-end run shape of
``src/main/scala/test/InfoSelectorTest.scala:70-139``: parse args, load
KEEL / LibSVM / parquet input, fit the selector, print the selection
table and wall-clock "FS time", transform, show rows.  ``--nf``/``--ni``
are accepted for flag parity but ignored (schema-derived — SURVEY.md
§1.3).

Usage::

    python -m flink_infotheoretic_feature_selection_spark.cli \
        --input /path/data.libsvm --type libsvm --nfeat 10 --crit mrmr

With ``--type parquet`` the fit direct-packs the files with pyarrow (the
input is a bare parquet scan); there is no flag to pick the pack route.
"""

from __future__ import annotations

import argparse
import time

from flink_infotheoretic_feature_selection_spark.selector import InfoThSelector
from flink_infotheoretic_feature_selection_spark.session import get_spark


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="Info-theoretic feature selection")
    p.add_argument("--input", required=True, help="input file/dir")
    p.add_argument("--type", default="libsvm", choices=["libsvm", "keel", "parquet"])
    p.add_argument("--nfeat", type=int, default=10, help="features to select")
    p.add_argument("--crit", default="mrmr",
                   choices=["mim", "mifs", "jmi", "mrmr", "cmim", "if", "icap"])
    p.add_argument("--label", default="label")
    p.add_argument("--save-model", default=None, help="write fitted model JSON here")
    # parity flags, ignored: schema-derived in this engine (SURVEY.md §1.3)
    p.add_argument("--nf", type=int, default=None, help="(ignored)")
    p.add_argument("--ni", type=int, default=None, help="(ignored)")
    p.add_argument("--header", default=None, help="KEEL header file")
    p.add_argument("--show", type=int, default=10, help="rows of transformed output")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    spark = get_spark("infoth-cli")

    if args.type == "libsvm":
        from flink_infotheoretic_feature_selection_spark.sources.libsvm import read_libsvm, vectors_to_wide

        df = vectors_to_wide(read_libsvm(spark, args.input))
    elif args.type == "keel":
        from flink_infotheoretic_feature_selection_spark.sources.keel import read_keel

        # wire --label through, else the selector is built with a label
        # column name the keel frame doesn't have
        df = read_keel(spark, args.input, header_path=args.header, label_as=args.label)
    else:
        df = spark.read.parquet(args.input)

    t0 = time.perf_counter()
    model = InfoThSelector(
        n_to_select=args.nfeat,
        criterion=args.crit,
        label_col=args.label,
    ).fit(df)
    fs_time = time.perf_counter() - t0

    # selection table (InfoSelector.scala:485-489 format)
    print("*** Selected features ***")
    for col, score in model.selection_path:
        print(f"{col}\t{score:.4f}")
    print(f"FS time: {fs_time:.2f}s")

    if args.save_model:
        model.save(args.save_model)
        print(f"model saved: {args.save_model}")

    model.transform(df).show(args.show)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
