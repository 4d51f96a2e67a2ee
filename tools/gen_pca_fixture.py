"""Train the PCA component artifact and commit it as a parquet fixture.

Mirrors tools/gen_centroid_fixture.py: the artifact is sample-trained
(sf0.01 by default — sufficient statistics converge fast, and the
fixture is sf-independent the same way the IVF quantizer is), written to
fixtures/pca_components_m8.parquet, and read by BOTH the Spark queries
(driver-side literal weights) and the DuckDB oracles (read_parquet).

Usage: python tools/gen_pca_fixture.py [sf_dir] [m]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    m = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    sys.path.insert(0, REPO)
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_with_spark_kafka_spark.operators.pca import fit_pca
    from data_pipeline_with_spark_kafka_spark.session import get_spark
    from data_pipeline_with_spark_kafka_spark.sources.tables import load_table

    spark = get_spark("gen-pca-fixture")
    emb = load_table(spark, sf_dir, "embeddings")
    comps = fit_pca(emb, "embedding", dim=64, m=m)

    table = pa.table(
        {
            "comp_id": pa.array([c[0] for c in comps], pa.int32()),
            "weights": pa.array([c[1] for c in comps], pa.list_(pa.float64())),
            "proj_offset": pa.array([c[2] for c in comps], pa.float64()),
            "eigenvalue": pa.array([c[3] for c in comps], pa.float64()),
        }
    )
    out = f"{REPO}/fixtures/pca_components_m{m}.parquet"
    pq.write_table(table, out)
    print(f"wrote {out}: {m} components, eigenvalues "
          f"{[round(c[3], 4) for c in comps]}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
