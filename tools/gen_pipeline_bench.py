"""Generate reference-shaped CSV exports for pipeline throughput runs.

Usage: python tools/gen_pipeline_bench.py [out_dir] [n_rows]

out_dir defaults to <system tmp dir>/pipeline_bench.

Then time the reference (env SITE_BASE=https://shop.example.com,
FROG_CSV_PATH=... etl_merge.py) against
plans.pipeline.run_visibility_pipeline on the same files.
"""
import os
import random
import sys
import tempfile

random.seed(42)
d = sys.argv[1] if len(sys.argv) > 1 else os.path.join(tempfile.gettempdir(), 'pipeline_bench')
os.makedirs(d, exist_ok=True)
N = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
with open(f'{d}/frog.csv','w') as f:
    f.write('Address,Status Code,Title 1,Meta Description 1,Crawl Depth,Inlinks,Word Count,Structured Data\n')
    for i in range(N):
        schema = random.choice(['Article','Product','', 'BlogPosting'])
        f.write(f'https://shop.example.com/p/{i}/,200,Title {i},Desc {i},{i%6+1},{i%40},{200+i%1800},{schema}\n')
with open(f'{d}/gsc.csv','w') as f:
    f.write('Top pages,Clicks,Impressions,CTR,Position\n')
    for i in range(N):
        imp = 100 + (i*37)%5000
        clicks = int(imp * ((i%80)/1000.0))
        pos = round(1 + (i%120)/10.0, 1)
        f.write(f'/p/{i},{clicks},{imp},{round(100.0*clicks/imp,2)}%,{pos}\n')
with open(f'{d}/ga4.csv','w') as f:
    f.write('# GA4 export\nPage path and screen class,Active users,Sessions,Engaged sessions,Average engagement time\n')
    for i in range(N):
        s = 10 + i%500
        f.write(f'/p/{i},{s-3},{s},{int(s*0.7)},{round(20+(i%200)/3.0,1)}\n')
print('written', N)
