"""peeringdb.org — Organization dictionary + NAME/WEBSITE/COUNTRY/
LOCATED_IN/EXTERNAL_ID triples.

Reference: iyp/crawlers/peeringdb/org.py:48-131. Organization is keyed by
stripped name; the PeeringDB numeric id is attached via an EXTERNAL_ID edge
to a PeeringdbOrgID node (the external-ID indirection every later PeeringDB
crawler resolves through, SURVEY §J2). Country links only for valid
ISO-3166 alpha-2 codes (ref uses the iso3166 package, :74). The
EXTERNAL_ID props carry the flatdict-flattened record incl.
social_media_<service> entries (handle_social_media, ix.py:49-60).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..canon import is_valid_cc
from ..framework import SparkCrawler

ORG_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("name", T.StringType()),
    T.StructField("website", T.StringType()),
    T.StructField("country", T.StringType()),
    T.StructField("latitude", T.DoubleType()),
    T.StructField("longitude", T.DoubleType()),
    T.StructField("social_media", T.ArrayType(T.StructType([
        T.StructField("service", T.StringType()),
        T.StructField("identifier", T.StringType()),
    ]))),
])


class PeeringdbOrg(SparkCrawler):
    ORG = "PeeringDB"
    URL = "https://peeringdb.com/api/org"
    NAME = "peeringdb.org"
    EXPECTED_PREDS = ["NAME", "WEBSITE", "COUNTRY", "EXTERNAL_ID", "LOCATED_IN"]
    EDGELESS_LABELS = ("URL",)  # social-media websites (ref :83)

    def transform(self, docs: DataFrame):
        rec = self.m(
            docs.select(F.from_json(self.text_span(0), ORG_SCHEMA).alias("r"))
            .select(
                F.col("r.id").alias("extid"),
                F.trim(F.col("r.name")).alias("org"),
                F.trim(F.col("r.website")).alias("website"),
                F.col("r.country").alias("cc"),
                F.col("r.latitude").alias("lat"),
                F.col("r.longitude").alias("lon"),
                F.col("r.social_media").alias("social"),
            )
            .filter(F.col("org").isNotNull() & (F.col("org") != ""))
            .withColumn(
                "flat_props",
                F.map_filter(
                    F.map_concat(
                        F.create_map(
                            F.lit("id"), F.col("extid").cast("string"),
                            F.lit("name"), F.col("org"),
                            F.lit("website"), F.col("website"),
                            F.lit("country"), F.col("cc"),
                            F.lit("latitude"), F.col("lat").cast("string"),
                            F.lit("longitude"), F.col("lon").cast("string"),
                        ),
                        # social_media list flattened to social_media_<service>
                        F.map_from_entries(F.coalesce(
                            F.transform(
                                "social",
                                lambda s: F.struct(
                                    F.concat(
                                        F.lit("social_media_"), s["service"]
                                    ).alias("k"),
                                    s["identifier"].alias("v"),
                                ),
                            ),
                            F.array().cast("array<struct<k:string,v:string>>"),
                        )),
                    ),
                    lambda k, v: v.isNotNull(),
                ),
            )
        )
        sited = rec.filter(F.col("website") != "")
        in_country = rec.filter(is_valid_cc(F.col("cc")))
        located = rec.filter(
            F.col("lat").isNotNull() & F.col("lon").isNotNull()
            & (F.col("lat") != 0.0) & (F.col("lon") != 0.0)
        ).withColumn("position", F.concat_ws(",", F.col("lon"), F.col("lat")))
        # social-media 'website' entries become URL nodes (no link; ref :83)
        social_sites = rec.select(
            F.explode(F.coalesce("social", F.array())).alias("s")
        ).filter(F.col("s.service") == "website").select(
            F.trim(F.col("s.identifier")).alias("url")
        )
        nodes = [
            self.make_nodes(rec, "Organization", "org"),
            self.make_nodes(rec, "Name", "org"),
            self.make_nodes(rec, "PeeringdbOrgID", "extid"),
            self.make_nodes(sited, "URL", "website"),
            self.make_nodes(social_sites, "URL", "url"),
            self.make_nodes(in_country, "Country", "cc"),
            self.make_nodes(located, "Point", "position"),
        ]
        triples = [
            self.make_triples(rec, "NAME", "Organization", "org", "Name", "org"),
            self.make_triples(rec, "EXTERNAL_ID", "Organization", "org",
                              "PeeringdbOrgID", "extid",
                              props_col=F.col("flat_props")),
            self.make_triples(sited, "WEBSITE", "Organization", "org",
                              "URL", "website"),
            self.make_triples(in_country, "COUNTRY", "Organization", "org",
                              "Country", "cc"),
            self.make_triples(located, "LOCATED_IN", "Organization", "org",
                              "Point", "position"),
        ]
        return nodes, triples
