"""Scalar function kits: geo (haversine/OLC/tiles), geometry
(mercator, polygons, Douglas-Peucker), text (name-match cascade),
hashing (shingles, minhash, simhash, fingerprints), ids — the
cross-engine helpers written once over the SQL ``dialect``."""
