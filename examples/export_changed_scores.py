"""Export quantized scores to an Excel workbook (reference:
examples/get-excel-workbook-of-changed-epss-scores.py). `write_file` picks
the writer by extension; `write_excel` uses pandas' Excel engine when one is
installed and a stdlib OOXML writer otherwise, so this needs no extra
package."""

import os

from _common import SCORES_PATH, demo_client

from epss_spark.sources.sinks import write_file

client = demo_client()
df = client.get_changed_scores(min_date="2023-03-08", max_date="2023-03-14")

out_dir = os.path.join(os.path.dirname(SCORES_PATH), "exports")
os.makedirs(out_dir, exist_ok=True)
path = os.path.join(out_dir, "changed_scores.xlsx")
write_file(df, path)
print("wrote", path)
