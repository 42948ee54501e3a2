import os
import sys

# the benchmark's modules live one directory up and import each other by
# plain name, the way run.py puts them on the path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
