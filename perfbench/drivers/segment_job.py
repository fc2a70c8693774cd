"""spark-submit application for the ``segment`` workload: conjugate
clustering (``api.conjugate_cluster``) of a pages snapshot, written as
parquet::

    spark-submit --master local[4] --py-files <zip> \
        perfbench/drivers/segment_job.py --pages <dir> --output <dir>
"""

from __future__ import annotations

import argparse


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--pages", required=True, help="parquet dir of the pages table")
    p.add_argument("--output", required=True, help="parquet dir for the clusters")
    args = p.parse_args()

    from transkribusdu_spark import api
    from transkribusdu_spark.session import submit_session

    spark = submit_session(app_name="perfbench:segment")
    api.conjugate_cluster(spark.read.parquet(args.pages)).write.parquet(args.output)
    spark.stop()


if __name__ == "__main__":
    main()
